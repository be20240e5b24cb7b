"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extraction / frame-sampling as Arrow-batched
``mapInPandas`` operators.

The container has no image/audio codec LIBRARIES, so the default
*decode* step is a clearly-marked deterministic fake (features derived
from the payload's md5 digest — stable, oracle-checkable). The real
path (``real_decode=True``) decodes uncompressed 24-bit BMP with the
dependency-free pure-Python parser below (CI-exercised on real bytes),
uses Pillow for other image formats when importable, and raises
``NotImplementedError`` per-row for formats nothing present can decode
— audio/video always keep the fake (no ffmpeg-class codec exists
here). Everything Spark-side — schema, partitioning, UDF signature,
Arrow batch shape — is real and tested either way.

Scale notes: media rows are wide (payload bytes dominate), so the
feature extractor projects the payload away as early as possible and
``mapInPandas`` keeps transfer Arrow-batched; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Partitioning follows
the input files — no shuffle is introduced by decode.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_KINDS = ("image", "audio", "video")

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.StructType(
            [
                T.StructField("source", T.StringType()),
                T.StructField("n_bytes", T.LongType()),
            ]
        )),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def synth_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a media table from the documents table: payload = utf-8
    bytes of the text (an opaque stand-in for image/audio/video bytes),
    kind cycling deterministically over MEDIA_KINDS."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.col(id_col) % len(MEDIA_KINDS) + 1).cast("int"),
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("documents").alias("source"),
            F.length(F.encode(F.col(text_col), "utf-8")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def read_media_files(spark, path: str) -> DataFrame:
    """Ingest real files as multimodal rows via Spark's ``binaryFile``
    source — the production entry point for a training-data pipeline
    (the reference's closest analog is its per-file HTTP download,
    ``ETL_logs_inc.py:121-125``; on Spark the directory IS the table).

    Files follow the fixture convention ``<media_id>.<kind>`` with kind
    in MEDIA_KINDS; anything else (markers, strays) is filtered out.
    Output matches MEDIA_SCHEMA: payload = file content, meta = (source
    path, byte length). The scan parallelizes over files and prunes the
    ``content`` column when downstream plans never touch the payload.
    """
    raw = spark.read.format("binaryFile").load(path)
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    kinds = "|".join(MEDIA_KINDS)
    return (
        raw.filter(fname.rlike(rf"^\d+\.({kinds})$"))
        .select(
            F.regexp_extract(fname, r"^(\d+)\.", 1).cast("long").alias("media_id"),
            F.regexp_extract(fname, rf"\.({kinds})$", 1).alias("kind"),
            F.col("content").alias("payload"),
            F.struct(
                F.col("path").alias("source"),
                F.col("length").cast("long").alias("n_bytes"),
            ).alias("meta"),
        )
    )


def write_media_fixture(
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Materialize one binary file per document row under ``out_dir``
    (named ``<media_id>.<kind>``, kind cycling over MEDIA_KINDS like
    :func:`synth_media`) so the ``binaryFile`` ingest path has real
    files to read. Fixture scaffolding ONLY — a production corpus
    already exists as files; hence the driver-side iterator is fine
    here and deliberately not a data-plane pattern. Idempotent per
    ``out_dir``, published atomically (``artifacts.publish``)."""
    from de_project_sprint_etl_spark.artifacts import publish

    def write(tmp) -> None:
        tmp.mkdir()
        for row in docs.select(id_col, text_col).toLocalIterator():
            kind = MEDIA_KINDS[row[0] % len(MEDIA_KINDS)]
            (tmp / f"{row[0]:08d}.{kind}").write_bytes(row[1].encode("utf-8"))

    return str(publish(out_dir, write))


def _fake_decode(kind: str, payload: bytes) -> tuple[str, int, int, int, int]:
    """DETERMINISTIC FAKE decode: features are functions of the md5
    digest, not of any real codec. Replace with PIL/ffmpeg bindings in
    an environment that has them."""
    digest = hashlib.md5(payload).hexdigest()
    h = int(digest[:15], 16)
    width = 64 + h % 1920
    height = 64 + (h >> 11) % 1080
    duration_ms = 1000 + (h >> 7) % 600_000 if kind in ("audio", "video") else 0
    n_frames = 1 if kind == "image" else (duration_ms // 40 if kind == "video" else 0)
    return digest, width, height, duration_ms, int(n_frames)


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Dependency-free decode of an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, BI_RGB): returns ``(width, height, rgb)`` where
    ``rgb`` is the top-down row-major RGB raster. Pure stdlib, so ONE
    real image format is decodable — and CI-testable — in codec-less
    environments; Pillow remains the path for every other format.
    Handles both bottom-up (positive height, the common case) and
    top-down (negative height) files; anything else (palettes, RLE,
    16/32-bit) raises rather than guessing."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP bitstream (missing 'BM' magic)")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if comp != 0 or bpp != 24:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is supported "
            f"(got bpp={bpp}, compression={comp})"
        )
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    stride = ((w * 3 + 3) // 4) * 4
    if w <= 0 or h <= 0 or len(payload) < data_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    out = bytearray(w * h * 3)
    for y in range(h):
        sy = y if top_down else h - 1 - y
        row = payload[data_off + sy * stride : data_off + sy * stride + w * 3]
        rgb = bytearray(row)
        rgb[0::3] = row[2::3]  # BGR storage -> RGB raster
        rgb[2::3] = row[0::3]
        out[y * w * 3 : (y + 1) * w * 3] = rgb
    return w, h, bytes(out)


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Inverse of :func:`decode_bmp`: serialize a top-down RGB raster
    as a standard bottom-up uncompressed 24-bit BMP. Exists so tests
    (and fixtures) can synthesize REAL decodable bitstreams without any
    codec library."""
    import struct

    if len(rgb) != width * height * 3:
        raise ValueError("raster size does not match width*height*3")
    stride = ((width * 3 + 3) // 4) * 4
    pad = b"\x00" * (stride - width * 3)
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = rgb[y * width * 3 : (y + 1) * width * 3]
        bgr = bytearray(row)
        bgr[0::3] = row[2::3]
        bgr[2::3] = row[0::3]
        body += bgr + pad
    data_off = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return bytes(header) + bytes(body)


def _nearest_resize_rgb(
    rgb: bytes, w: int, h: int, ow: int, oh: int
) -> bytes:
    """Nearest-neighbor resample of a top-down RGB raster — the
    dependency-free twin of Pillow's NEAREST for the BMP path (plain
    index mapping; deterministic everywhere)."""
    out = bytearray(ow * oh * 3)
    xmap = [(x * w) // ow for x in range(ow)]
    for y in range(oh):
        src = ((y * h) // oh) * w * 3
        row = bytearray(ow * 3)
        for x, sx in enumerate(xmap):
            row[x * 3 : x * 3 + 3] = rgb[src + sx * 3 : src + sx * 3 + 3]
        out[y * ow * 3 : (y + 1) * ow * 3] = row
    return bytes(out)


def pil_image_module():
    """Optional-dependency probe for the real image codec path: returns
    ``PIL.Image`` when Pillow is importable, else None. Called on the
    driver (to decide plan-time whether real decode is available) AND
    inside the Arrow batches (executors re-probe — the import is
    memoized by Python)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _real_decode(kind: str, payload: bytes) -> tuple[str, int, int, int, int]:
    """Real decode where a codec exists: BMP via the built-in pure-
    Python parser (always available — the one format that is real even
    in codec-less environments), other images via Pillow when
    importable (dims from the actual bitstream; digest still
    md5-of-payload so lineage keys stay stable). An image format
    nothing present can decode raises with the sniffed magic — honest
    per-row, where the format is first knowable. Audio/video need
    ffmpeg-class codecs with no optional pure-Python probe here, so
    those KINDS keep the deterministic fake even in real mode — a
    mixed-kind table must not crash mid-job on the rows one codec
    can't serve (the per-kind honesty lives in the features, not in a
    task failure)."""
    if kind != "image":
        return _fake_decode(kind, payload)
    data = bytes(payload)
    if data[:2] == b"BM":
        w, h, _rgb = decode_bmp(data)
        return hashlib.md5(data).hexdigest(), w, h, 0, 1
    pil = pil_image_module()
    if pil is None:
        raise NotImplementedError(
            f"no codec for image payload (magic {data[:4]!r}): only "
            "uncompressed 24-bit BMP decodes without Pillow in this "
            "environment"
        )
    import io  # noqa: PLC0415

    img = pil.open(io.BytesIO(data))
    return hashlib.md5(data).hexdigest(), img.width, img.height, 0, 1


def extract_features(media: DataFrame, real_decode: bool = False) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas`` (Arrow-batched; one
    Python pass per partition, no shuffle). ``real_decode=True``
    decodes BMP with the built-in pure-Python parser and other image
    formats with Pillow when importable; a format nothing present can
    decode raises per-row (where the bitstream's magic is first
    knowable). The deterministic fake stays the default."""
    decode = _real_decode if real_decode else _fake_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                decode(k, bytes(p)) for k, p in zip(pdf["kind"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "digest": [f[0] for f in feats],
                    "width": pd.Series([f[1] for f in feats], dtype="int32"),
                    "height": pd.Series([f[2] for f in feats], dtype="int32"),
                    "duration_ms": pd.Series([f[3] for f in feats], dtype="int32"),
                    "n_frames": pd.Series([f[4] for f in feats], dtype="int32"),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, schema=FEATURES_SCHEMA
    )


def sample_frames(media: DataFrame, every_ms: int = 5000) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled frame
    offset (the fake decode supplies duration). Built as features →
    posexplode of a generated offset sequence — JVM-side after the
    single Python decode pass."""
    feats = extract_features(media)
    video = feats.filter(F.col("kind") == "video").filter(F.col("duration_ms") > 0)
    offsets = F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
    return video.select(
        "media_id",
        "digest",
        F.posexplode(offsets).alias("frame_idx", "offset_ms"),
    )


RESIZED_SCHEMA = (
    "media_id long, kind string, width int, height int, "
    "out_width int, out_height int, resized_digest string"
)


def resize_images(
    media: DataFrame, max_side: int = 224, real_decode: bool = False
) -> DataFrame:
    """Aspect-preserving image resize via the same Arrow-batched
    ``mapInPandas`` path as extract_features (one Python pass, no
    shuffle): the long side is scaled to ``max_side`` (never upscaled),
    the short side rounds down proportionally with a 1 px floor. With
    ``real_decode=True`` the actual pixels are resampled — BMP through
    the built-in parser + nearest-neighbor kernel, other formats
    through Pillow — and the digest covers the resized raster. The
    default keeps the deterministic fake: output dims computed for real
    from the decoded dims, resized payload represented by a digest of
    (payload, out dims) so the plumbing is testable end-to-end.
    Non-image rows are filtered JVM-side before any Python is paid."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                img = rgb = None
                data = bytes(payload)
                if real_decode and data[:2] == b"BM":
                    w, h, rgb = decode_bmp(data)
                elif real_decode:
                    pil = pil_image_module()
                    if pil is None:
                        raise NotImplementedError(
                            f"no codec for image payload (magic "
                            f"{data[:4]!r}): only uncompressed 24-bit "
                            "BMP resizes without Pillow in this "
                            "environment"
                        )
                    # open the bitstream ONCE — dims and the resample
                    # below share the decode (it dominates the op cost)
                    import io  # noqa: PLC0415

                    img = pil.open(io.BytesIO(data))
                    w, h = img.width, img.height
                else:
                    _, w, h, _, _ = _fake_decode(kind, data)
                # integer scaling: the long side lands EXACTLY on the
                # target (float scale+truncate can undershoot by 1 px)
                long_in = max(w, h)
                out_long = min(max_side, long_in)
                ow = max(1, (w * out_long) // long_in)
                oh = max(1, (h * out_long) // long_in)
                if rgb is not None:
                    digest = hashlib.md5(
                        _nearest_resize_rgb(rgb, w, h, ow, oh)
                    ).hexdigest()
                elif img is not None:
                    # resample the actual pixels and digest the resized
                    # raster (deterministic for a fixed Pillow version —
                    # NEAREST has no filter kernel)
                    resized = img.resize(
                        (ow, oh), pil_image_module().Resampling.NEAREST
                    )
                    digest = hashlib.md5(resized.tobytes()).hexdigest()
                else:
                    digest = hashlib.md5(
                        data + f"|{ow}x{oh}".encode()
                    ).hexdigest()
                rows.append((mid, kind, w, h, ow, oh, digest))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "kind",
                    "width",
                    "height",
                    "out_width",
                    "out_height",
                    "resized_digest",
                ],
            ).astype(
                {
                    "width": "int32",
                    "height": "int32",
                    "out_width": "int32",
                    "out_height": "int32",
                }
            )

    images = media.filter(F.col("kind") == "image").select(
        "media_id", "kind", "payload"
    )
    return images.mapInPandas(batches, schema=RESIZED_SCHEMA)
