"""Multimodal column plumbing: image/audio/video as typed binary.

Design (BASELINE.json north-star): media travels as an opaque
``binary`` content column plus a typed metadata struct; decode /
feature-extraction / resize / frame-sampling run as Arrow-batched
``mapInPandas`` stages. The Spark-side plumbing — schema, partition
sizing, UDF signatures, batch shapes — is real and tested; the codec
call itself is STUBBED (``decoder="stub"``) because no image/audio
library ships in this container: ``decoder="pil"``/``"ffmpeg"`` raise
``NotImplementedError`` at the exact seam a real codec plugs into —
EXCEPT the uncompressed-format family parsed in pure Python: Netpbm
grayscale PGM (r10, :func:`decode_pgm`), Netpbm color PPM (r11,
:func:`decode_ppm`), RIFF/WAV integer PCM (r11, :func:`decode_wav`),
and Windows BMP 24-bit BI_RGB (r11, :func:`decode_bmp`) — so decode →
stats → resize runs end-to-end on real pixel/sample bytes with no
external library, and the seam covers only genuinely compressed
codecs (JPEG/PNG/MP3/video).

Scale notes: media rows are big (MBs); the knobs that matter are
``spark.sql.files.maxPartitionBytes`` (keep a partition's batch of
decoded frames in executor memory) and
``spark.sql.execution.arrow.maxRecordsPerBatch`` (bound the pandas
batch). Feature extraction emits small fixed-width vectors — the
right shape to write back columnar and feed the similarity operators.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.operators.dedup import _bucket_pairs

MEDIA_SCHEMA = (
    "media_id LONG, kind STRING, content BINARY, "
    "meta STRUCT<width: INT, height: INT, sample_rate: INT, n_frames: INT>"
)

FEATURE_DIM = 16

_FEATURES_SCHEMA = f"media_id LONG, kind STRING, feature ARRAY<FLOAT>"
_FRAMES_SCHEMA = (
    "media_id LONG, frame_idx INT, frame BINARY, frame_bytes LONG"
)


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table: each document's text bytes
    become the binary payload, round-robin kind, synthesized metadata.
    Exists so every downstream stage runs on real (binary, meta)
    columns without shipping actual media in the fixtures."""
    content = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    n_bytes = F.octet_length(content)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        content.alias("content"),
        F.struct(
            F.when(kind == "image", (n_bytes % 640 + 1).cast("int")).alias("width"),
            F.when(kind == "image", (n_bytes % 480 + 1).cast("int")).alias("height"),
            F.when(kind == "audio", F.lit(16000)).alias("sample_rate"),
            F.when(kind == "video", (n_bytes % 24 + 1).cast("int")).alias("n_frames"),
        ).alias("meta"),
    )


def _stub_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic fake embedding: blake2b-seeded floats in [-1, 1).

    STUB — stands in for the real decode→model forward pass; stable
    across runs/engines so tests can assert exact values.
    """
    out: list[float] = []
    counter = 0
    while len(out) < dim:
        h = hashlib.blake2b(payload, digest_size=8, salt=counter.to_bytes(8, "little")).digest()
        v = int.from_bytes(h, "little") / 2**63 - 1.0
        out.append(float(v))
        counter += 1
    return out


def extract_features(
    media: DataFrame,
    decoder: str = "stub",
    feature_dim: int = FEATURE_DIM,
) -> DataFrame:
    """Decode + feature-extract: (media_id, kind, feature ARRAY<FLOAT>).

    ``mapInPandas`` — one Arrow batch of (content, …) in, one batch of
    fixed-width vectors out; the iterator contract keeps memory at
    batch granularity regardless of partition size.
    """
    if decoder != "stub":
        raise NotImplementedError(
            f"decoder {decoder!r}: LOSSY/exotic codecs (PIL/ffmpeg/"
            "torchaudio for JPEG, palette/16-bit/interlaced PNG, "
            "compressed audio, video) are not available in this "
            "environment — plug them in here. Native decoders "
            "cover PGM/PPM (r10/r11), BMP 24-bit, WAV PCM (r11), "
            "and zlib-compressed 8-bit non-interlaced PNG "
            "(decode_png, r12) — real pixel/sample parsing "
            "including a real inflate+defilter path, no external "
            "library; the 'stub' decoder exercises the identical "
            "Spark plumbing for the rest"
        )
    from convert_parquet_to_csv_spark.shipping import ensure_package_shipped

    # The closure references module-level _stub_feature → workers must
    # import this package; ship it (works from any driver cwd/cluster).
    ensure_package_shipped(media.sparkSession)

    def _extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [
                _stub_feature(bytes(c) if c is not None else b"", feature_dim)
                for c in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(_extract, schema=_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video rows: split the payload into n even
    byte-range "frames" (STUB for keyframe extraction — real ffmpeg
    seek goes at the marked seam). Pure built-in expressions: no UDF,
    the explode shape is what a real frame table looks like."""
    video = media.filter(F.col("kind") == "video")
    total = F.octet_length(F.col("content"))
    per = F.greatest((total / n_frames).cast("int"), F.lit(1))
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    with_idx = video.select("media_id", "content", total.alias("_total"), per.alias("_per"), idx)
    # substring on binary is positional (1-based); STUB seam: replace
    # byte-range slicing with codec keyframe extraction.
    frame = F.expr("substring(content, frame_idx * _per + 1, _per)")
    return (
        with_idx.filter(F.col("frame_idx") * F.col("_per") < F.col("_total"))
        .select(
            "media_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            frame.alias("frame"),
            F.octet_length(frame).cast("long").alias("frame_bytes"),
        )
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind byte statistics — the metadata-only aggregation that
    must not touch content bytes beyond the pruned octet_length."""
    return (
        media.groupBy("kind")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.octet_length("content")).alias("total_bytes"),
            F.max(F.octet_length("content")).alias("max_bytes"),
        )
        .orderBy("kind")
    )


_RESIZE_SCHEMA = (
    "media_id LONG, width INT, height INT, new_width INT, "
    "new_height INT, out_bytes LONG, resized BINARY"
)


def resize_images(media: DataFrame, factor: int = 2) -> DataFrame:
    """Resize for image rows: interpret the payload as a row-major
    width×height grayscale grid (zero-padded / truncated — the STUB
    stand-in for a real decode; a PIL/torchvision kernel plugs into
    the same batch loop), downsample by ``factor`` via exact integer
    block means (sum of each f×f block // f²), and re-emit the
    resized grid as binary plus its new geometry.

    Plumbing is the real thing a production resize stage needs:
    meta-struct geometry flattened INTO the Arrow batch (the kernel
    must not re-parse metadata per row), ``mapInPandas`` iterator
    memory bounded at batch granularity, numpy vectorized block
    reduction (no per-pixel Python), deterministic output bytes
    (integer arithmetic, no float rounding)."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    from convert_parquet_to_csv_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)

    images = media.filter(F.col("kind") == "image").select(
        "media_id",
        "content",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )

    def _resize(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [], "width": [], "height": [],
                "new_width": [], "new_height": [], "out_bytes": [],
                "resized": [],
            }
            for mid, content, w, h in zip(
                pdf["media_id"], pdf["content"], pdf["width"], pdf["height"]
            ):
                w, h = int(w), int(h)
                buf = bytes(content) if content is not None else b""
                need = w * h
                buf = (buf + b"\x00" * need)[:need]
                grid = np.frombuffer(buf, dtype=np.uint8).reshape(h, w)
                nh, nw = max(h // factor, 1), max(w // factor, 1)
                ch, cw = nh * factor, nw * factor
                if ch > h or cw > w:  # degenerate tiny image
                    resized = grid[:nh, :nw]
                else:
                    blocks = (
                        grid[:ch, :cw]
                        .reshape(nh, factor, nw, factor)
                        .astype(np.uint32)
                    )
                    resized = (
                        blocks.sum(axis=(1, 3)) // (factor * factor)
                    ).astype(np.uint8)
                payload = resized.tobytes()
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["new_width"].append(resized.shape[1])
                out["new_height"].append(resized.shape[0])
                out["out_bytes"].append(len(payload))
                out["resized"].append(payload)
            yield pd.DataFrame(out)

    return images.mapInPandas(_resize, schema=_RESIZE_SCHEMA)


# --------------------------------------------------------------------------
# Real pixel decode: Netpbm grayscale (PGM), pure Python (r10)
# --------------------------------------------------------------------------

def _netpbm_header(
    payload: bytes, magics: tuple[bytes, ...], family: str
) -> tuple[str, int, int, int, int]:
    """Shared Netpbm header parse (PGM r10, PPM r11): magic check,
    then three decimal tokens (width height maxval) separated by
    arbitrary whitespace with ``#`` comments running to end-of-line.
    Returns ``(fmt, width, height, maxval, pos)`` with ``pos`` the
    byte index just after the maxval token. Behavior is exactly the
    r10 ``decode_pgm`` header loop (its unit tests pin the edges);
    only the accepted magic set varies by family.
    """
    magic = bytes(payload[:2])
    if magic not in magics:
        raise ValueError(f"not a {family} payload (magic {magic!r})")
    fmt = magic.decode("ascii")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError(f"malformed {family} header at byte {pos}")
        vals.append(int(payload[start:pos]))
    w, h, maxval = vals
    if w <= 0 or h <= 0 or not 0 < maxval <= 255:
        raise ValueError(
            f"unsupported {family} geometry {w}x{h}@{maxval}"
        )
    return fmt, w, h, maxval, pos


def decode_pgm(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """Pure-Python Netpbm grayscale decoder — P2 (ASCII) and P5
    (binary raster), ``maxval <= 255`` (r10, VERDICT r9 item 5):
    the trivially-parseable image format that lets the multimodal
    chain decode REAL pixel data end-to-end with no external codec.
    Handles header whitespace and ``#`` comments per the spec; after
    P5's maxval exactly ONE whitespace byte precedes the raster.

    Returns ``(fmt, width, height, maxval, pixels)`` with pixels as
    ``width*height`` bytes, row-major. Raises ``ValueError`` on a
    malformed header or short raster — the error surfaces per-batch
    in the mapInPandas stage, carrying the media_id context from the
    caller's loop.
    """
    fmt, w, h, maxval, pos = _netpbm_header(
        payload, (b"P2", b"P5"), "PGM"
    )
    if fmt == "P5":
        # exactly ONE whitespace byte after maxval, then raw raster
        if not payload[pos : pos + 1].isspace():
            raise ValueError("missing post-maxval whitespace byte")
        pos += 1
        pixels = bytes(payload[pos : pos + w * h])
    else:
        toks = bytes(payload[pos:]).split()
        if len(toks) > w * h:
            raise ValueError(
                f"excess raster: {len(toks)} tokens for {w * h} pixels"
            )
        pixels = bytes(int(t) for t in toks)
    if len(pixels) != w * h:
        raise ValueError(
            f"short raster: {len(pixels)} of {w * h} pixels"
        )
    if fmt == "P2" and max(pixels, default=0) > maxval:
        raise ValueError("pixel above maxval")
    return fmt, w, h, maxval, pixels


_DECODE_PGM_SCHEMA = (
    "media_id LONG, fmt STRING, width INT, height INT, maxval INT, "
    "n_pixels LONG, pixel_sum LONG, mean_pixel LONG, "
    "rs_width INT, rs_height INT, rs_pixel_sum LONG"
)


def decode_pgm_table(
    media: DataFrame, factor: int = 2
) -> DataFrame:
    """decode → stats → resize on REAL pixel data, one Arrow batch
    loop (r10): parse each (media_id, content) payload with
    :func:`decode_pgm`, report geometry + exact integer pixel stats,
    then downsample by ``factor`` with the same integer block-mean
    kernel :func:`resize_images` uses (sum of each f×f block
    // f², cropped to full blocks) and report the resized sum —
    every output column is exact integer arithmetic, so an oracle
    that replays the payload construction can replay the whole
    decode chain in SQL.

    Plan shape: ONE mapInPandas over the media rows; batch-granular
    memory; numpy-vectorized block reduction. At 100 TB the stage
    scales like any binary-column map — partition sizing via
    ``spark.sql.files.maxPartitionBytes`` (the module-docstring
    knobs), no shuffle.
    """
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    from convert_parquet_to_csv_spark.shipping import (
        ensure_package_shipped,
    )

    ensure_package_shipped(media.sparkSession)

    def _decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "fmt", "width", "height", "maxval",
                "n_pixels", "pixel_sum", "mean_pixel",
                "rs_width", "rs_height", "rs_pixel_sum",
            )}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                fmt, w, h, mv, px = decode_pgm(
                    bytes(content) if content is not None else b""
                )
                grid = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                psum = int(grid.sum(dtype=np.int64))
                nh, nw = max(h // factor, 1), max(w // factor, 1)
                ch, cw = nh * factor, nw * factor
                if ch > h or cw > w:  # degenerate tiny image
                    rs = grid[:nh, :nw].astype(np.int64)
                else:
                    rs = (
                        grid[:ch, :cw]
                        .reshape(nh, factor, nw, factor)
                        .astype(np.int64)
                        .sum(axis=(1, 3))
                        // (factor * factor)
                    )
                out["media_id"].append(mid)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["maxval"].append(mv)
                out["n_pixels"].append(w * h)
                out["pixel_sum"].append(psum)
                out["mean_pixel"].append(psum // (w * h))
                out["rs_width"].append(rs.shape[1])
                out["rs_height"].append(rs.shape[0])
                out["rs_pixel_sum"].append(int(rs.sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=_DECODE_PGM_SCHEMA)


# --------------------------------------------------------------------------
# Real pixel decode: Netpbm color (PPM), pure Python (r11)
# --------------------------------------------------------------------------

def decode_ppm(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """Pure-Python Netpbm COLOR decoder — P3 (ASCII) and P6 (binary
    raster), ``maxval <= 255`` (r11, VERDICT r10 item 4: widen the
    real-codec surface beside :func:`decode_pgm`). The raster is
    ``width*height*3`` samples, RGB-interleaved row-major; after
    P6's maxval exactly ONE whitespace byte precedes the raster,
    and P3 tokenizes on whitespace with per-sample maxval checks —
    the same strictness contract the PGM parser pins (short raster,
    excess raster, sample above maxval all raise).

    Returns ``(fmt, width, height, maxval, samples)`` with samples
    as ``width*height*3`` bytes (r0 g0 b0 r1 g1 b1 ...).
    """
    fmt, w, h, maxval, pos = _netpbm_header(
        payload, (b"P3", b"P6"), "PPM"
    )
    n = w * h * 3
    if fmt == "P6":
        # exactly ONE whitespace byte after maxval, then raw raster
        if not payload[pos : pos + 1].isspace():
            raise ValueError("missing post-maxval whitespace byte")
        pos += 1
        samples = bytes(payload[pos : pos + n])
    else:
        toks = bytes(payload[pos:]).split()
        if len(toks) > n:
            raise ValueError(
                f"excess raster: {len(toks)} tokens for {n} samples"
            )
        samples = bytes(int(t) for t in toks)
    if len(samples) != n:
        raise ValueError(f"short raster: {len(samples)} of {n} samples")
    if fmt == "P3" and max(samples, default=0) > maxval:
        raise ValueError("sample above maxval")
    return fmt, w, h, maxval, samples


_DECODE_PPM_SCHEMA = (
    "media_id LONG, fmt STRING, width INT, height INT, maxval INT, "
    "n_pixels LONG, r_sum LONG, g_sum LONG, b_sum LONG, "
    "rs_width INT, rs_height INT, "
    "rs_r_sum LONG, rs_g_sum LONG, rs_b_sum LONG"
)


def decode_ppm_table(media: DataFrame, factor: int = 2) -> DataFrame:
    """decode → per-channel stats → per-channel resize on REAL color
    pixel data, one Arrow batch loop (r11): parse each (media_id,
    content) payload with :func:`decode_ppm`, report geometry plus
    exact integer per-channel sums, then downsample each channel by
    ``factor`` with the same integer block-mean kernel the PGM/
    resize stages use (sum of each f×f block // f², cropped to full
    blocks) and report the resized per-channel sums — every output
    column is exact integer arithmetic, so an oracle that replays
    the payload construction replays the whole 3-channel decode
    chain in SQL.

    Plan shape: ONE mapInPandas over the media rows (identical to
    :func:`decode_pgm_table` — batch-granular memory, numpy block
    reduction per channel, no shuffle); at 100 TB it scales like any
    binary-column map via ``spark.sql.files.maxPartitionBytes``.
    """
    return _rgb_decode_table(media, decode_ppm, factor)


def _rgb_decode_table(media, decoder, factor: int) -> DataFrame:
    """Shared 3-channel decode→stats→resize stage for the RGB parser
    family (PPM r11, BMP r11-late): one mapInPandas batch loop whose
    per-payload ``decoder`` returns ``(fmt, w, h, maxval, samples)``
    with samples RGB-interleaved row-major TOP-DOWN. Extracted
    verbatim from decode_ppm_table (the gated kernel) so a second
    decoder cannot drift from the gated arithmetic — the PPM gate
    and unit tests re-pin this loop on every run.
    """
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    from convert_parquet_to_csv_spark.shipping import (
        ensure_package_shipped,
    )

    ensure_package_shipped(media.sparkSession)

    def _decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = (
            "media_id", "fmt", "width", "height", "maxval",
            "n_pixels", "r_sum", "g_sum", "b_sum",
            "rs_width", "rs_height", "rs_r_sum", "rs_g_sum",
            "rs_b_sum",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                fmt, w, h, mv, sm = decoder(
                    bytes(content) if content is not None else b""
                )
                grid = (
                    np.frombuffer(sm, dtype=np.uint8).reshape(h, w, 3)
                )
                csum = grid.sum(axis=(0, 1), dtype=np.int64)
                nh, nw = max(h // factor, 1), max(w // factor, 1)
                ch, cw = nh * factor, nw * factor
                if ch > h or cw > w:  # degenerate tiny image
                    rs = grid[:nh, :nw, :].astype(np.int64)
                    rsum = rs.sum(axis=(0, 1))
                else:
                    rs = (
                        grid[:ch, :cw, :]
                        .reshape(nh, factor, nw, factor, 3)
                        .astype(np.int64)
                        .sum(axis=(1, 3))
                        // (factor * factor)
                    )
                    rsum = rs.sum(axis=(0, 1))
                out["media_id"].append(mid)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["maxval"].append(mv)
                out["n_pixels"].append(w * h)
                out["r_sum"].append(int(csum[0]))
                out["g_sum"].append(int(csum[1]))
                out["b_sum"].append(int(csum[2]))
                out["rs_width"].append(nw)
                out["rs_height"].append(nh)
                out["rs_r_sum"].append(int(rsum[0]))
                out["rs_g_sum"].append(int(rsum[1]))
                out["rs_b_sum"].append(int(rsum[2]))
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=_DECODE_PPM_SCHEMA)


# --------------------------------------------------------------------------
# Real pixel decode: BMP (BI_RGB 24-bit), pure Python (r11-late)
# --------------------------------------------------------------------------

def decode_bmp(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """Pure-Python Windows BMP decoder — BITMAPINFOHEADER (DIB size
    40), 24-bit uncompressed BI_RGB only, both row orders: positive
    height = bottom-up storage (the common case), negative = top-down.
    Third member of the real-codec family (PGM r10, PPM r11 — VERDICT
    r10 item 4's "narrow the seam to compressed formats" continued):
    palette, RLE, and 16/32-bit variants raise at the same seam a
    full codec would plug into, with the family's strictness contract
    — bad magic, unsupported DIB/planes/bpp/compression, short pixel
    array, and trailing bytes after the raster all raise.

    Returns ``(fmt, width, height, maxval, samples)`` with ``fmt``
    ``"BM24BU"``/``"BM24TD"`` (storage order), ``maxval`` fixed 255,
    and ``samples`` normalized to RGB-interleaved row-major TOP-DOWN
    (bottom-up files are flipped; BGR file order swapped to RGB) so
    the shared :func:`_rgb_decode_table` arithmetic applies unchanged.
    Rows are stored padded to 4-byte multiples; pad CONTENTS are
    undefined by the format and ignored, but the padded length is
    validated exactly.
    """
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    (off,) = struct.unpack_from("<I", payload, 10)
    (dib,) = struct.unpack_from("<I", payload, 14)
    if dib != 40:
        raise ValueError(f"unsupported DIB header size {dib}")
    w, hraw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (comp,) = struct.unpack_from("<I", payload, 30)
    if w <= 0 or hraw == 0:
        raise ValueError(f"bad geometry {w}x{hraw}")
    if planes != 1:
        raise ValueError(f"planes must be 1, got {planes}")
    if bpp != 24:
        raise ValueError(f"unsupported bit depth {bpp} (24-bit only)")
    if comp != 0:
        raise ValueError("compressed BMP unsupported (BI_RGB only)")
    if off < 54:
        raise ValueError("pixel offset inside header")
    h, topdown = abs(hraw), hraw < 0
    rowsize = (w * 3 + 3) // 4 * 4
    need = off + rowsize * h
    if len(payload) < need:
        raise ValueError(
            f"short pixel array: {len(payload)} of {need} bytes"
        )
    if len(payload) > need:
        raise ValueError("excess bytes after pixel array")
    # Vectorized flip + BGR→RGB (ADVICE r11: the per-byte generator
    # was O(3wh) interpreter ops per image — wrong for MB-scale
    # rows): view the raster as (h, rowsize), drop padding, reverse
    # the 3-byte stride per pixel, reverse rows when bottom-up.
    import numpy as np

    arr = (
        np.frombuffer(payload, dtype=np.uint8, count=rowsize * h,
                      offset=off)
        .reshape(h, rowsize)[:, : w * 3]
        .reshape(h, w, 3)[:, :, ::-1]
    )
    if not topdown:
        arr = arr[::-1, :, :]
    return (
        "BM24TD" if topdown else "BM24BU", w, h, 255,
        arr.tobytes(),
    )


def decode_bmp_table(media: DataFrame, factor: int = 2) -> DataFrame:
    """decode → per-channel stats → per-channel resize on REAL BMP
    pixel data: the shared :func:`_rgb_decode_table` stage (one
    mapInPandas, exact integer arithmetic — the PPM-gated loop) fed
    by :func:`decode_bmp`. Output schema identical to
    :func:`decode_ppm_table`; ``fmt`` reads ``BM24BU``/``BM24TD``.
    """
    return _rgb_decode_table(media, decode_bmp, factor)


# --------------------------------------------------------------------------
# Real sample decode: WAV PCM, pure Python (r11)
# --------------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """Pure-Python RIFF/WAVE PCM decoder (r11, VERDICT r10 item 4's
    audio half): integer PCM only (format code 1), 8- or 16-bit,
    any channel count — the trivially-parseable audio container that
    gives ``multimodal_audio_energy`` a real-samples twin the same
    way PGM/PPM did for pixels. Walks the RIFF chunk list (chunks
    are (id, le32 size, payload) with word alignment), requires one
    ``fmt `` before one ``data``, and rejects everything else with
    ``ValueError`` — same strictness contract as the Netpbm parsers
    (truncated data, unsupported codecs, malformed headers raise).

    Returns ``(num_channels, sample_rate, bits_per_sample,
    n_samples, data)`` with ``n_samples`` the TOTAL interleaved
    sample count (frames × channels) and ``data`` the raw
    little-endian PCM bytes of exactly the declared data size.
    """
    if bytes(payload[:4]) != b"RIFF" or bytes(payload[8:12]) != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE payload (magic {bytes(payload[:4])!r})"
        )
    pos = 12
    fmt = None
    while pos + 8 <= len(payload):
        cid = bytes(payload[pos : pos + 4])
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(
                f"truncated {cid!r} chunk: {len(body)} of {size} bytes"
            )
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"fmt chunk too short ({size} bytes)")
            code = int.from_bytes(body[0:2], "little")
            if code != 1:
                raise ValueError(
                    f"unsupported WAV format code {code} (PCM=1 only; "
                    "compressed codecs are the environment seam)"
                )
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if channels < 1 or rate < 1 or bits not in (8, 16):
                raise ValueError(
                    f"unsupported PCM geometry {channels}ch@{rate}Hz/"
                    f"{bits}bit"
                )
            fmt = (channels, rate, bits)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            channels, rate, bits = fmt
            if size % (bits // 8) != 0:
                raise ValueError(
                    f"data size {size} not a multiple of sample width"
                )
            n = size // (bits // 8)
            return channels, rate, bits, n, bytes(body)
        # skip unknown chunks; RIFF pads odd sizes to word boundaries
        pos += 8 + size + (size % 2)
    raise ValueError("no data chunk")


_WAV_ENERGY_SCHEMA = (
    "media_id LONG, num_channels INT, sample_rate INT, bits INT, "
    "n_samples LONG, n_frames LONG, total_energy LONG, "
    "max_frame_energy LONG"
)


def wav_energy_table(
    media: DataFrame, frame_len: int = 256
) -> DataFrame:
    """decode → per-frame absolute-sample energy on REAL PCM data,
    one Arrow batch loop (r11): parse each (media_id, content)
    payload with :func:`decode_wav`, split the interleaved sample
    stream into ``frame_len``-sample frames (the last frame may be
    short), and report exact integer energy — Σ|sample| per frame,
    totals and max over frames — the real-samples twin of
    ``multimodal_audio_energy``'s raw-byte arithmetic. 8-bit PCM is
    unsigned (centered at 128 per the WAV spec, |s − 128|); 16-bit
    is signed little-endian.

    Plan shape: ONE mapInPandas over the media rows, numpy
    vectorized, no shuffle — the decode_pgm_table contract.
    """
    if frame_len < 1:
        raise ValueError(f"frame_len must be >= 1, got {frame_len}")
    from convert_parquet_to_csv_spark.shipping import (
        ensure_package_shipped,
    )

    ensure_package_shipped(media.sparkSession)

    def _decode(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        cols = (
            "media_id", "num_channels", "sample_rate", "bits",
            "n_samples", "n_frames", "total_energy",
            "max_frame_energy",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                ch, rate, bits, n, data = decode_wav(
                    bytes(content) if content is not None else b""
                )
                if bits == 16:
                    s = np.frombuffer(data, dtype="<i2").astype(
                        np.int64
                    )
                    mag = np.abs(s)
                else:
                    s = np.frombuffer(data, dtype=np.uint8).astype(
                        np.int64
                    )
                    mag = np.abs(s - 128)
                n_frames = (n + frame_len - 1) // frame_len if n else 0
                if n_frames:
                    pad = n_frames * frame_len - n
                    fr = np.pad(mag, (0, pad)).reshape(
                        n_frames, frame_len
                    ).sum(axis=1)
                    total, mx = int(fr.sum()), int(fr.max())
                else:
                    total, mx = 0, 0
                out["media_id"].append(mid)
                out["num_channels"].append(ch)
                out["sample_rate"].append(rate)
                out["bits"].append(bits)
                out["n_samples"].append(n)
                out["n_frames"].append(n_frames)
                out["total_energy"].append(total)
                out["max_frame_energy"].append(mx)
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=_WAV_ENERGY_SCHEMA)


# --------------------------------------------------------------------------
# Cross-modal consistency (CLIP-score shape, r11)
# --------------------------------------------------------------------------

def clip_score_pairs(
    media: DataFrame,
    vectors: DataFrame,
    dim: int = 16,
    tau: float = 0.1,
    k: int | None = None,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-modal consistency filter (r11, VERDICT r10 item 3): the
    CLIP-score-shaped op a multimodal curation pipeline runs — per
    (media, caption) pair, cosine between a media feature vector and
    the caption's text embedding, plus the ``keep = cosine >= tau``
    filter verdict; ``k`` optionally returns only the top-k most
    consistent pairs (sort-limit — Spark's distributed TakeOrdered,
    no single-partition window).

    The media feature here is the deterministic SQL-replayable stand
    -in for a real image encoder (the same seam doctrine as the stub
    embedding): ``dim`` contiguous byte-block sums over the payload —
    block ``b`` covers byte indices ``i`` with ``i*dim div total ==
    b`` — computed entirely JVM-side (hex + substring + conv inside
    nested higher-order functions; NO per-byte row explosion, no
    UDF). The caption side is the embedding's leading ``dim``
    components (a fixed projection). Cosine reuses
    functions.vectors.cosine_similarity — float64 left-to-right
    accumulation, bitwise-equal to DuckDB list_dot_product, so the
    whole pair score replays in SQL value-exactly.

    Pairing is the natural (media_id == vec_id) equi-join — at scale
    a co-partitioned shuffle join on the id, never a cross join; the
    per-pair score is map-side after the join. Pairs whose media
    payload is shorter than ``dim`` bytes drop (a block would be
    empty); pairs without an embedding row drop (inner join — score
    where both modalities exist, the bm25_rerank contract).
    """
    from convert_parquet_to_csv_spark.functions.vectors import (
        cosine_similarity,
    )

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    d = int(dim)

    def _block_sum(b: Column) -> Column:
        total = F.col("_total")
        lo = F.floor((b * total + d - 1) / d).cast("bigint")
        hi = F.floor(((b + 1) * total + d - 1) / d).cast("bigint") - 1
        return F.aggregate(
            F.sequence(lo, hi),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc
            + F.conv(
                F.substring(F.col("_h"), (i * 2 + 1).cast("int"), 2),
                16,
                10,
            ).cast("bigint"),
        ).cast("double")

    mvec = (
        media.filter(F.col("kind") == "image")
        .select(
            "media_id",
            F.hex(F.col("content")).alias("_h"),
            F.octet_length(F.col("content")).cast("bigint").alias(
                "_total"
            ),
        )
        .filter(F.col("_total") >= d)
        .select(
            "media_id",
            "_total",
            F.transform(
                F.sequence(F.lit(0), F.lit(d - 1)), _block_sum
            ).alias("_mvec"),
        )
    )
    tvec = vectors.select(
        F.col(vec_id_col).alias("media_id"),
        F.slice(F.col(vec_col), 1, d).alias("_tvec"),
    )
    scored = (
        mvec.join(tvec, "media_id")
        .withColumn("cosine", cosine_similarity("_mvec", "_tvec"))
        .select(
            "media_id",
            F.col("_total").alias("n_bytes"),
            "cosine",
            (F.col("cosine") >= float(tau)).alias("keep"),
        )
    )
    if k is not None:
        scored = scored.orderBy(
            F.desc("cosine"), F.asc("media_id")
        ).limit(int(k))
    return scored


# --------------------------------------------------------------------------
# Perceptual near-dup: average hash over REAL decoded pixels (r11)
# --------------------------------------------------------------------------

_AHASH_SCHEMA = (
    "media_id LONG, width INT, height INT, ahash LONG, n_set_bits INT"
)


def ahash_table(
    media: DataFrame, grid: int = 4, decoder=None
) -> DataFrame:
    """Average-hash (aHash) fingerprints over REAL decoded pixels —
    the perceptual image-dedup primitive a LAION-scale multimodal
    curation pipeline runs (near-identical crops/recompressions land
    at small hamming distance; exact byte dedup misses them all).
    Bridges the two operator families: the real-codec seam
    (decode_pgm/decode_ppm/decode_bmp) feeds the banded-LSH dedup
    shape (dedup.py's simhash machinery, here over pixel structure
    instead of token shingles).

    Integer-exact aHash: block-mean the pixel grid to ``grid²``
    cells (sum // (fh·fw) with fh = h//grid, fw = w//grid — the
    SAME crop-to-full-blocks block-mean rule the resize kernel and
    its oracle replay use), then bit(r,c) = 1 iff
    cell·grid² > Σcells (the mean threshold cleared of division),
    packed row-major MSB-first into a BIGINT. Every step is integer
    arithmetic, so the DuckDB oracle replays the WHOLE chain —
    fixture bytes → pixels → cells → threshold → packed hash — and a
    decoder or packing bug lands as a value mismatch. Images
    smaller than the grid on either axis are DROPPED (fh·fw = 0 has
    no defined cell mean); the oracle applies the same guard.

    ``grid² ≤ 62`` enforced: bit 63 would reach the BIGINT sign bit
    and the two engines' hex→int conventions differ at the
    boundary. One mapInPandas stage (numpy block reduction), no
    shuffle — at 100 TB this scales like any binary-column map.
    """
    if grid < 1 or grid * grid > 62:
        raise ValueError("grid must satisfy 1 <= grid*grid <= 62")
    if decoder is None:
        decoder = decode_pgm
    from convert_parquet_to_csv_spark.shipping import (
        ensure_package_shipped,
    )

    ensure_package_shipped(media.sparkSession)
    g = grid

    def _hash(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "width", "height", "ahash", "n_set_bits",
            )}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _, w, h, _, px = decoder(
                    bytes(content) if content is not None else b""
                )
                hashed = ahash_of(px, w, h, g)
                if hashed is None:
                    continue  # smaller than the grid — no cell mean
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["ahash"].append(hashed[0])
                out["n_set_bits"].append(hashed[1])
            yield pd.DataFrame(out)

    return media.mapInPandas(_hash, schema=_AHASH_SCHEMA)


def ahash_of(px: bytes, w: int, h: int, grid: int):
    """The aHash kernel as a pure function of decoded raster bytes —
    extracted from the mapInPandas closure so the hypothesis
    roundtrip can drive it directly (the decoder-family pattern).
    ``px`` is ``w*h*channels`` interleaved samples (channels inferred
    from the length; >1 → integer per-pixel channel-mean luma).
    Returns ``(packed_hash, n_set_bits)`` or ``None`` when the image
    is smaller than the grid on either axis.
    """
    import numpy as np

    g = grid
    fh, fw = h // g, w // g
    if fh == 0 or fw == 0:
        return None
    pix = np.frombuffer(px, dtype=np.uint8)
    if pix.size != w * h:
        # color decoder (PPM/BMP interleave channels): integer luma
        # = per-pixel channel mean — exact, replayable ((r+g+b)//3
        # in the oracle)
        pix = (
            pix.reshape(h * w, -1)
            .astype(np.int64)
            .sum(axis=1)
            // (pix.size // (h * w))
        )
    cells = (
        pix.reshape(h, w)[: fh * g, : fw * g]
        .reshape(g, fh, g, fw)
        .astype(np.int64)
        .sum(axis=(1, 3))
        // (fh * fw)
    )
    total = int(cells.sum())
    flat = (cells * (g * g) > total).astype(np.int64).flatten()
    hv = 0
    for b in flat:  # g² ≤ 62 iterations
        hv = (hv << 1) | int(b)
    return hv, int(flat.sum())


def ahash_neardup_pairs(
    hashes: DataFrame,
    grid: int = 4,
    bands: int = 4,
    max_hamming: int = 2,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Banded-LSH near-dup pairs over aHash fingerprints: split the
    grid² hash bits into ``bands`` equal slices; any pair agreeing
    on ≥1 whole band is a candidate (two hashes within hamming
    distance < bands MUST agree on some band — pigeonhole, the
    simhash_complete guarantee); candidates verify with an exact
    popcount of the XOR. Never all-pairs: pairs come from buckets
    keyed on (band index, band value), the 100 TB shape, and the
    verify is map-side Column algebra (no second shuffle beyond the
    pair dedup).

    BUCKET-CAPACITY ARITHMETIC. Each band key takes one of
    ``2^(grid²/bands)`` values, so at N images the banded pairing
    tends toward ``bands · N²/2^(grid²/bands)`` candidate pairs when
    hashes are uniform — and WORSE when they are not (near-uniform
    images pile onto few band values). At the default
    ``grid=4, bands=4`` that is 16 values per band — N²/64, an
    all-pairs plan wearing an LSH costume. Two levers, both needed
    at corpus scale:

    - **Geometry.** Widen the bands: the BIGINT pack bounds
      ``grid² ≤ 62`` (bit 63 is the sign bit — see ``ahash_table``),
      so ``grid=8``'s 64 bits do NOT fit and the widest shipped
      geometry is ``grid=7, bands=7`` → 7-bit band values (128
      buckets per band; recall-complete for hamming ≤ 6). Band
      values can't exceed ~2^8 within the pack limit, so geometry
      alone never makes buckets corpus-proof — which is why
      ``minhash_dedup``'s banding (64-bit xxhash band keys) still
      carries the same guard.
    - **``max_bucket`` (default 1000).** Buckets holding more than
      ``max_bucket`` members are DROPPED before any bucket's member
      list is built — the same bucket-pairing
      helper ``lsh_candidate_pairs`` uses — so candidate work is
      bounded by ``bands · N · max_bucket`` and a popular band value
      (flat images, letterboxes) cannot detonate the pairing.
      Capping only LOSES pairs whose every agreeing band is hot
      (drops, never corrupts: surviving pairs carry the same exact
      verified hamming — test-pinned); ``None`` means uncapped,
      restoring the unconditional pigeonhole recall guarantee on
      bounded corpora at a cost quadratic in the largest bucket.

    Output: (id_a < id_b, hamming) for pairs with
    hamming ≤ ``max_hamming``. Set ``bands > max_hamming`` for a
    complete (recall-1.0) answer per the pigeonhole bound (subject
    to the ``max_bucket`` note above). Nothing is persisted, so the
    returned plan needs no ``clearCache()``.
    """
    nbits = grid * grid
    if bands < 1 or nbits % bands != 0:
        raise ValueError("bands must divide grid*grid")
    width = nbits // bands
    mask = (1 << width) - 1
    h = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_hv")
    )
    banded = h.select(
        "_id",
        "_hv",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    (
                        F.shiftright(
                            F.col("_hv"), width * (bands - 1 - b)
                        ).bitwiseAND(F.lit(mask))
                    ).alias("val"),
                )
                for b in range(bands)
            ])
        ).alias("_bk"),
    ).select("_id", "_hv", "_bk.band", "_bk.val")
    member = F.struct("_id", "_hv")
    return (
        _bucket_pairs(banded, ["band", "val"], member, max_bucket)
        .filter(F.col("_a._id") < F.col("_b._id"))
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            F.bit_count(
                F.col("_a._hv").bitwiseXOR(F.col("_b._hv"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# Real pixel decode: PNG (8-bit, non-interlaced), pure stdlib (r12)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_defilter(raw: bytes, h: int, stride: int, bpp: int) -> bytes:
    """PNG scanline defilter (spec §9, all five types): each row is
    one filter-type byte + ``stride`` filtered bytes; reconstruction
    is sequential by definition for Sub/Average/Paeth (recon[i]
    depends on recon[i−bpp]), so this is an honest per-byte loop —
    the same shape every C decoder's inner loop has — bounded by the
    decompressed raster size.
    """
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"decompressed size {len(raw)} != expected {h * (1 + stride)}"
        )
    out = bytearray(h * stride)
    prev = bytes(stride)
    pos = 0
    for r in range(h):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 0:
            pass
        elif f == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = (
                    a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                )
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown filter type {f}")
        start = r * stride
        out[start : start + stride] = line
        prev = bytes(line)
    return bytes(out)


def decode_png(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """Pure-STDLIB PNG decoder (r12, VERDICT r11 item 6): 8-bit
    depth, non-interlaced, color type 0 (grayscale) or 2 (RGB) —
    the first genuinely COMPRESSED format in the real-codec family
    (PGM/PPM/BMP/WAV are containers over raw samples; this one runs
    ``zlib`` inflate plus the full five-type scanline defilter), so
    the ``NotImplementedError`` seam now covers only lossy/exotic
    codecs (JPEG, palette/16-bit/interlaced PNG, audio/video).

    Chunk walk with the family's strictness contract — everything
    malformed raises ``ValueError``: bad signature; IHDR not first
    or geometry/depth/color-type/compression/filter-method/interlace
    unsupported; chunk CRC mismatches (``zlib.crc32`` over
    type+data); non-consecutive IDAT runs (spec §5.6); unknown
    CRITICAL chunks (ancillary bit clear); missing IEND or trailing
    bytes after it; decompressed raster length off by even one byte;
    unknown per-row filter types. Ancillary chunks (tEXt, gAMA, …)
    are skipped after their CRC verifies.

    Returns ``(fmt, width, height, maxval, samples)`` — fmt
    ``"PNG8G"``/``"PNG8RGB"``, maxval fixed 255, samples row-major
    top-down (RGB-interleaved for color type 2), i.e. exactly the
    PGM/PPM sample layout, so the existing table stages and
    ``ahash_of``'s channel inference apply unchanged.
    """
    import struct
    import zlib

    if bytes(payload[:8]) != _PNG_SIG:
        raise ValueError(
            f"not a PNG payload (signature {bytes(payload[:8])!r})"
        )
    pos = 8
    ihdr = None
    idat = bytearray()
    idat_runs = 0
    prev_was_idat = False
    ended = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = bytes(payload[pos + 4 : pos + 8])
        data = bytes(payload[pos + 8 : pos + 8 + length])
        if len(data) != length:
            raise ValueError(
                f"truncated {ctype!r} chunk: {len(data)} of {length}"
            )
        crc_at = pos + 8 + length
        if crc_at + 4 > len(payload):
            raise ValueError(f"missing CRC for {ctype!r} chunk")
        (crc,) = struct.unpack_from(">I", payload, crc_at)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        pos = crc_at + 4
        if ihdr is None:
            if ctype != b"IHDR":
                raise ValueError("first chunk is not IHDR")
            if length != 13:
                raise ValueError(f"IHDR length {length} != 13")
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if w < 1 or h < 1:
                raise ValueError(f"bad geometry {w}x{h}")
            if depth != 8:
                raise ValueError(
                    f"unsupported bit depth {depth} (8-bit only)"
                )
            if color not in (0, 2):
                raise ValueError(
                    f"unsupported color type {color} (gray=0/RGB=2 "
                    "only; palette/alpha are the environment seam)"
                )
            if comp != 0 or filt != 0:
                raise ValueError("unsupported compression/filter method")
            if inter != 0:
                raise ValueError(
                    "interlaced PNG unsupported (non-interlaced only)"
                )
            ihdr = (w, h, color)
            continue
        if ctype == b"IDAT":
            if idat and not prev_was_idat:
                raise ValueError("IDAT chunks must be consecutive")
            idat += data
            idat_runs += 1
            prev_was_idat = True
            continue
        prev_was_idat = False
        if ctype == b"IEND":
            if length != 0:
                raise ValueError("IEND chunk must be empty")
            ended = True
            break
        if not (ctype[0] & 0x20):  # critical bit: uppercase first
            raise ValueError(f"unknown critical chunk {ctype!r}")
        # ancillary chunk: CRC already verified, skip
    if ihdr is None:
        raise ValueError("no IHDR chunk")
    if not ended:
        raise ValueError("no IEND chunk")
    if pos != len(payload):
        raise ValueError("excess bytes after IEND")
    if not idat:
        raise ValueError("no IDAT chunk")
    w, h, color = ihdr
    channels = 1 if color == 0 else 3
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"IDAT inflate failed: {exc}") from exc
    samples = _png_defilter(raw, h, w * channels, channels)
    return (
        "PNG8G" if color == 0 else "PNG8RGB", w, h, 255, samples
    )


def _decode_png_rgb(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """decode_png restricted to RGB for the shared 3-channel table
    stage (grayscale PNGs carry w*h samples — they feed the
    PGM-shaped paths and ``ahash_of`` directly, not this table)."""
    fmt, w, h, mv, sm = decode_png(payload)
    if fmt != "PNG8RGB":
        raise ValueError(
            f"{fmt} is grayscale; decode_png_table handles RGB PNGs"
        )
    return fmt, w, h, mv, sm


def decode_png_table(media: DataFrame, factor: int = 2) -> DataFrame:
    """decode → per-channel stats → per-channel resize on REAL
    zlib-compressed PNG pixel data: the shared
    :func:`_rgb_decode_table` stage (one mapInPandas, exact integer
    arithmetic — the PPM-gated loop) fed by :func:`decode_png`.
    Output schema identical to :func:`decode_ppm_table`; ``fmt``
    reads ``PNG8RGB``.
    """
    return _rgb_decode_table(media, _decode_png_rgb, factor)
