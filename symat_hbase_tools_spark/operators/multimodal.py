"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video at 100 TB live as ``binary`` columns with a metadata
struct; decode/feature-extraction runs as Arrow-batched pandas on
``mapInPandas`` so each task streams batches without materializing a
partition. The decode libraries (PIL/ffmpeg/...) are NOT in this container —
the decode step is stubbed behind ``use_real_decoder`` (raises
NotImplementedError) with a deterministic fake so the Spark-side plumbing
(schema, batch shape, partitioning) is real and tested end-to-end.

The synthetic payload is the UTF-8 encoding of documents.text, which makes
the fake features (byte length, byte-sum checksum) oracle-checkable in SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.plans.serve_cache import pin
from symat_hbase_tools_spark.sources.tables import load_table

CHECKSUM_MOD = 997

FEATURE_SCHEMA = "doc_id bigint, byte_len bigint, checksum bigint, width int, height int"


def attach_payload(docs: DataFrame) -> DataFrame:
    """documents -> multimodal records: (doc_id, payload binary, meta struct)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("txt").alias("format"),
            (F.col("n_chars") % 640 + 1).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
            (F.col("doc_id") % 10 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _fake_decode_features(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for a real image/audio decode.

    The byte sum runs through numpy (round-15 optimization, guide §4.2):
    ``sum(payload)`` iterates the buffer byte-by-byte in interpreted
    Python (~7 µs per 1.5 KB payload, ~12 ms per 2 MiB payload); the
    vectorized form is 3-10x faster and identical (int64 cannot overflow:
    255 * len caps far below 2^63 for any realistic payload). numpy is
    imported at module scope (round-16 advice): this function runs once
    per payload row via Series.map, and the per-call sys.modules lookup
    eroded part of the vectorization win on small (~1.5 KB) payloads."""
    return (
        len(payload),
        int(np.frombuffer(payload, dtype=np.uint8).sum(dtype=np.int64))
        % CHECKSUM_MOD,
    )


def extract_features(records: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """Decode payloads and emit per-record features via mapInPandas.

    Arrow-batched: each task pulls pandas batches, the "decoder" handle is
    initialized once per partition (the per-partition-connection pattern of
    CorruptRowsMR.java:104-123), and output batches stream back.

    ``use_real_decoder=True`` (round 15): UNCOMPRESSED raster payloads
    (P5/P6 netpbm, 24-bpp BMP) are genuinely decoded by ``decode_raster``
    — width/height are the DECODED dims, checksum is the exact pixel sum
    mod 997. Compressed containers (png/jpeg) still raise
    NotImplementedError from the decoder (codec libs absent from this
    image), and non-raster payloads raise ValueError.
    """

    def run_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens, checks, ws, hs = [], [], [], []
            for payload in pdf["payload"]:
                g = decode_raster(bytes(payload))
                lens.append(len(payload))
                checks.append(int(g.sum()) % CHECKSUM_MOD)
                hs.append(g.shape[0])
                ws.append(g.shape[1])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": lens,
                    "checksum": checks,
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                }
            )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_fake_decode_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": feats.map(lambda t: t[0]),
                    "checksum": feats.map(lambda t: t[1]),
                    "width": pdf["meta"].map(lambda m: m["width"]),
                    "height": pdf["meta"].map(lambda m: m["height"]),
                }
            )

    return records.mapInPandas(
        run_real if use_real_decoder else run, schema=FEATURE_SCHEMA
    )


def sample_frames(records: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling: explode meta.n_frames into frame indices (JVM-side)."""
    idx = F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every))
    return records.select(
        "doc_id", F.explode(idx).alias("frame_idx"), F.col("meta.n_frames").alias("n_frames")
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable end-to-end pipeline: attach payload -> decode -> features."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_payload(docs))


RESIZE_SCHEMA = (
    "doc_id bigint, out_width int, out_height int, out_bytes binary, "
    "out_len bigint"
)


def resize_images(
    records: DataFrame,
    max_side: int = 64,
    use_real_decoder: bool = False,
) -> DataFrame:
    """Batch image resize via mapInPandas — the training-pipeline
    preprocessing shape: payloads stream through Arrow batches, each task
    resizes its batch and emits the resized payload + new dims; nothing is
    collected, partitioning is inherited from the scan (map-only plan).

    Aspect-preserving: the longer side clamps to ``max_side``; integer
    floor-scaled short side floored at 1 (the standard thumbnail contract).
    ``use_real_decoder=True`` (round 15): payloads that are UNCOMPRESSED
    rasters (P5/P6 netpbm, 24-bpp BMP — see ``decode_raster``) are
    genuinely decoded and box-filter downscaled (exact block means via
    one integral image), re-encoded as P5 with the clamp formula applied
    to the DECODED dims; compressed containers still raise from the
    decoder (codec libs absent). The default fake emits a payload
    truncated proportionally to the area ratio — byte-arithmetic a SQL
    oracle can restate exactly, so the plumbing (schema, batch shape,
    output sizes) is hash-verified."""

    def run_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ows, ohs, outs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                g = decode_raster(bytes(payload))
                h, w = g.shape
                long_side = max(w, h)
                scale = min(long_side, max_side)
                ow = max(1, w * scale // long_side)
                oh = max(1, h * scale // long_side)
                resized = np.rint(_block_means(g, oh, ow)).astype(np.int64)
                ids.append(doc_id)
                ows.append(ow)
                ohs.append(oh)
                outs.append(encode_pgm(resized))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "out_width": pd.array(ows, dtype="int32"),
                    "out_height": pd.array(ohs, dtype="int32"),
                    "out_bytes": outs,
                    "out_len": [len(b) for b in outs],
                }
            )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["meta"].map(lambda m: m["width"]).astype("int64")
            h = pdf["meta"].map(lambda m: m["height"]).astype("int64")
            long_side = w.where(w >= h, h)
            scale_num = long_side.where(long_side < max_side, max_side)
            ow = (w * scale_num // long_side).clip(lower=1).astype("int32")
            oh = (h * scale_num // long_side).clip(lower=1).astype("int32")
            payloads = pdf["payload"]
            in_len = payloads.map(len)
            out_len = (in_len * (ow.astype("int64") * oh) // (w * h)).clip(lower=1)
            out_bytes = [
                p[: int(n)] for p, n in zip(payloads, out_len)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_width": ow,
                    "out_height": oh,
                    "out_bytes": out_bytes,
                    "out_len": [len(b) for b in out_bytes],
                }
            )

    return records.mapInPandas(
        run_real if use_real_decoder else run, schema=RESIZE_SCHEMA
    )


def multimodal_resize_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verified resize pipeline: per-source census of resized dims
    and output bytes (exact integer arithmetic — full SQL oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(attach_payload(docs))
    return (
        resized.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.col("out_width").cast("long")).alias("sum_out_width"),
            F.sum(F.col("out_height").cast("long")).alias("sum_out_height"),
            F.sum("out_len").alias("sum_out_bytes"),
            F.max("out_width").alias("max_out_width"),
        )
    )


def multimodal_frame_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-frame counts per source (exercises the explode path)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_payload(docs))
    return (
        frames.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_frames_sampled"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# REAL container-header parsing (round 4). Unlike the decode step (which
# needs PIL/ffmpeg and stays env-gated), sniffing the container format and
# reading header-resident metadata is plain byte arithmetic — implemented
# here as pure JVM binary expressions (substring/hex/conv: whole-stage
# codegen, no Python on the data path) and functional on genuine files.
# JPEG dimensions are deliberately NOT parsed: they live in a variable-
# position SOF marker that needs a scan loop, which belongs in the decoder.

def _be_u32(payload: F.Column, pos: int) -> F.Column:
    """Big-endian u32 at 1-indexed byte pos of a binary column."""
    return F.conv(F.hex(F.substring(payload, pos, 4)), 16, 10).cast("long")


def _le_u16(payload: F.Column, pos: int) -> F.Column:
    b0 = F.conv(F.hex(F.substring(payload, pos, 1)), 16, 10).cast("long")
    b1 = F.conv(F.hex(F.substring(payload, pos + 1, 1)), 16, 10).cast("long")
    return b0 + b1 * 256


def _le_u32(payload: F.Column, pos: int) -> F.Column:
    return _le_u16(payload, pos) + _le_u16(payload, pos + 2) * 65536


def media_magic(payload: F.Column) -> F.Column:
    """Container format from the magic bytes: png/jpeg/gif/wav/unknown."""
    head = F.hex(F.substring(payload, 1, 8))
    riff = F.hex(F.substring(payload, 1, 4))
    wave = F.hex(F.substring(payload, 9, 4))
    return (
        F.when(head == F.lit("89504E470D0A1A0A"), F.lit("png"))
        .when(F.hex(F.substring(payload, 1, 3)) == F.lit("FFD8FF"), F.lit("jpeg"))
        .when(F.hex(F.substring(payload, 1, 6)).isin("474946383961", "474946383761"), F.lit("gif"))
        .when((riff == F.lit("52494646")) & (wave == F.lit("57415645")), F.lit("wav"))
        .otherwise(F.lit("unknown"))
    )


def sniff_media_meta(records: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Header-resident metadata per record, parsed from real bytes:

      * png  — width/height from IHDR (big-endian u32 at offsets 16/20)
      * gif  — width/height from the logical screen descriptor (LE u16)
      * wav  — sample rate (LE u32 at offset 24) in ``sample_rate``
      * jpeg — format detected, dimensions null (SOF scan = decoder work)

    Adds (format, width, height, sample_rate); nulls where the container
    does not carry the field in a fixed-offset header.
    """
    p = F.col(payload_col)
    fmt = media_magic(p)
    width = (
        F.when(fmt == "png", _be_u32(p, 17))
        .when(fmt == "gif", _le_u16(p, 7))
        .cast("long")
    )
    height = (
        F.when(fmt == "png", _be_u32(p, 21))
        .when(fmt == "gif", _le_u16(p, 9))
        .cast("long")
    )
    rate = F.when(fmt == "wav", _le_u32(p, 25)).cast("long")
    return records.withColumns(
        {
            "format": fmt,
            "width": width,
            "height": height,
            "sample_rate": rate,
        }
    )


def payload_dedup(records: DataFrame) -> DataFrame:
    """Exact BINARY-payload dedup census — one row per distinct payload
    fingerprint (sha-256 over the raw bytes): canonical keeper (min
    doc_id) and copy count. The byte-identical-asset pass every media
    pipeline runs before any perceptual hashing: identical files are the
    overwhelming bulk of media duplication and need no decode at all —
    which is why this operator works in THIS container while perceptual
    decode stays env-stubbed (see extract_features).

    Scale shape: the digest is a narrow map over the payload column; one
    partial-aggregated groupBy on the 32-byte digest. Same plan shape as
    dedup.exact_dedup, applied to binary.
    """
    return records.groupBy(F.sha2(F.col("payload"), 256).alias("fp")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --- perceptual (near-dup) hashing over binary payloads ---------------------
#
# The companion to payload_dedup the way MinHash-LSH is the companion to
# exact_dedup: byte-identical assets are the bulk of media duplication, but
# re-encoded / lightly-edited copies need a PERCEPTUAL fingerprint whose
# hamming distance tracks visual similarity. The standard family is
# dHash/blockhash (Krawetz): block-average the image to a coarse grid and
# take horizontal gradient signs as bits. Real decoders are env-gated in
# this container (see extract_features), so the grid is computed over the
# raw payload BYTE RASTER — the same no-decode trick as sniff_media_meta's
# JVM byte math. The kernel's robustness property is exactly dHash's:
# a local edit perturbs one grid cell's mean, flipping at most its two
# adjacent gradient bits, while unrelated payloads land ~32 bits apart.

#: dHash grid: 8 rows x 9 columns of block means -> 8x8 gradient bits
PHASH_ROWS = 8
PHASH_COLS = 9

def perceptual_hashes(records: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, fp) 64-bit dHash over the byte raster.

    Arrow-batched numpy kernel (mapInPandas, map-only plan): cumulative-sum
    block means over an 8x9 grid of the byte stream (empty tail blocks of
    short payloads mean 0), bit(8r+c) = mean[r,c+1] > mean[r,c], packed
    into one signed long. Null/empty payloads are skipped (no fingerprint,
    same contract as simhash's empty-shingle skip)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n_cells = PHASH_ROWS * PHASH_COLS
        weights = (1 << np.arange(63, -1, -1, dtype=np.uint64))
        for pdf in batches:
            ids, fps = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                a = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
                edges = (np.arange(n_cells + 1, dtype=np.int64) * len(a)) // n_cells
                cs = np.concatenate(([0.0], np.cumsum(a)))
                cnt = (edges[1:] - edges[:-1]).astype(np.float64)
                sums = cs[edges[1:]] - cs[edges[:-1]]
                means = np.divide(
                    sums, cnt, out=np.zeros(n_cells), where=cnt > 0
                ).reshape(PHASH_ROWS, PHASH_COLS)
                bits = (means[:, 1:] > means[:, :-1]).ravel().astype(np.uint64)
                fp = int((bits * weights).sum())
                ids.append(doc_id)
                # wrap to signed int64 for the Spark long column
                fps.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    return records.select("doc_id", "payload").mapInPandas(
        kernel, schema="doc_id long, fp long"
    )


def near_dup_pairs(records: DataFrame, max_hamming: int = 3) -> DataFrame:
    """All payload pairs with hamming(dHash64) <= max_hamming — EXACT under
    4x16-bit band blocking (pigeonhole: <= 3 flips leave one band intact),
    the same candidate-generation shape as dedup.simhash_pairs, so the
    join only ever shuffles on 16-bit band keys — never all-pairs.

    Scale shape: fingerprint map (narrow, Arrow-batched) -> the SHARED
    4x16-bit band candidate generator (dedup.banded_hamming_pairs — one
    24-byte row per doc per band, band-key self-join, distinct + popcount
    filter). 100 TB posture identical to SimHash's."""
    from symat_hbase_tools_spark.operators.dedup import banded_hamming_pairs

    # pin: one 16-byte row per doc feeds BOTH sides of the band join;
    # without it the payload scan + hash kernel runs twice
    fps = pin(perceptual_hashes(records), "phash_fps")
    return banded_hamming_pairs(fps, max_hamming=max_hamming)


def multimodal_near_dup(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """Registry form: perceptual near-dup pairs over the synthetic payload
    column. Rows-only (the fingerprint is a numpy byte-raster fold no SQL
    oracle can restate); the oracle-paired claim is the planted-edit
    coverage twin ``multimodal_near_dup_check``."""
    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(attach_payload(docs), max_hamming=max_hamming)


#: planted clones get doc_id + this (mirrors similarity._PLANT_OFFSET)
_PLANT_OFFSET = 10_000_000


def multimodal_near_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-edit coverage check for the perceptual near-dup path.

    The synthetic corpus has no lightly-edited media copies (payload_dedup
    finds zero byte-identical ones), so a native check would be vacuous.
    Every document with >= 8 payload bytes gets a clone whose FIRST BYTE
    is replaced (same length — a SINGLE byte always lands in exactly one
    grid cell, whatever the payload length, and one perturbed cell flips
    at most its two adjacent gradient bits, so the pair sits at
    hamming <= 2: inside both the band-blocking pigeonhole and the
    max_hamming=3 filter — recovery is guaranteed, not probabilistic).
    Coverage floor 0.95 mirrors embedding_near_dup_lsh_check; measured
    1.0 at all test scales. One row: n_planted + coverage_ok."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.encode("text", "UTF-8")) >= 8)
    )
    # collision-proof offset: a corpus with doc_ids >= the static offset
    # would alias a clone onto a REAL document and silently corrupt the
    # coverage count — bump past the actual max (one tiny agg job; the
    # same value parameterizes both the union and the recovery filter)
    max_id = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"] or 0
    offset = max(_PLANT_OFFSET, int(max_id) + 1)
    base = attach_payload(docs)
    clone = base.select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat(
            F.encode(F.lit("~"), "UTF-8"),
            F.expr("substring(payload, 2, octet_length(payload) - 1)"),
        ).alias("payload"),
        "meta",
    )
    pairs = near_dup_pairs(base.unionByName(clone), max_hamming=3)
    planted_found = pairs.filter(F.col("d2") == F.col("d1") + offset)
    return (
        docs.agg(F.count(F.lit(1)).alias("n_planted"))
        .crossJoin(planted_found.agg(F.count(F.lit(1)).alias("n_found")))
        .select(
            "n_planted",
            (F.col("n_found") >= 0.95 * F.col("n_planted")).alias("coverage_ok"),
        )
    )


# --- real-pixel decode tier (round 15) --------------------------------------
#
# The decode stubs above are honest about compressed containers (png/jpeg
# need codec libs absent from this image), but UNCOMPRESSED rasters — binary
# PGM/PPM (netpbm P5/P6) and 24-bpp BMP — are plain byte arithmetic, the
# same class of work as sniff_media_meta. This tier implements them in pure
# python/numpy so the perceptual family can run on ACTUAL pixels: the
# byte-raster dHash above provably cannot survive layout-changing edits
# (a 2-column crop reflows every row, so byte-grid cells no longer align
# with image geometry), while the decoded dHash block-averages in IMAGE
# coordinates and does.

def _pnm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a binary netpbm header: (width, height, maxval, data_offset).
    Whitespace-separated fields with '#' comments, per the netpbm spec."""
    i, n, vals = 2, len(payload), []
    while len(vals) < 3:
        while i < n and (payload[i : i + 1].isspace() or payload[i : i + 1] == b"#"):
            if payload[i : i + 1] == b"#":
                while i < n and payload[i] != 0x0A:
                    i += 1
            i += 1
        j = i
        while j < n and not payload[j : j + 1].isspace():
            j += 1
        if i == j:
            raise ValueError("truncated netpbm header")
        vals.append(int(payload[i:j]))
        i = j
    return vals[0], vals[1], vals[2], i + 1  # exactly one ws after maxval


def decode_raster(payload: bytes):
    """Decode an UNCOMPRESSED raster payload to a 2D int64 grayscale array
    (top-down row order):

      * P5 (binary PGM, maxval <= 255) — gray = the sample byte
      * P6 (binary PPM, maxval <= 255) — gray = (R + G + B) // 3
      * BMP (BITMAPINFOHEADER, 24 bpp, BI_RGB) — gray = (R + G + B) // 3;
        4-byte row padding honored; bottom-up (positive biHeight) and
        top-down (negative biHeight) both handled

    png/jpeg/gif raise NotImplementedError (compressed — codec libs are
    not in this container; the stub contract in extract_features stands
    for them). Anything else raises ValueError.
    """
    import struct

    import numpy as np

    magic = payload[:2]
    if magic in (b"P5", b"P6"):
        w, h, maxval, off = _pnm_header(payload)
        if maxval > 255:
            raise NotImplementedError("16-bit netpbm samples not supported")
        ch = 1 if magic == b"P5" else 3
        need = w * h * ch
        if len(payload) - off < need:
            raise ValueError("truncated netpbm pixel data")
        a = np.frombuffer(payload, np.uint8, need, off).astype(np.int64)
        if ch == 1:
            return a.reshape(h, w)
        return a.reshape(h, w, 3).sum(axis=2) // 3
    if magic == b"BM":
        off = struct.unpack_from("<I", payload, 10)[0]
        _, w, h, _, bpp, comp = struct.unpack_from("<IiihhI", payload, 14)
        if bpp != 24 or comp != 0:
            raise NotImplementedError("only 24-bpp uncompressed BMP supported")
        topdown, H = h < 0, abs(h)
        stride = (w * 3 + 3) & ~3
        if len(payload) - off < H * stride:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(payload, np.uint8, H * stride, off).reshape(H, stride)
        px = rows[:, : w * 3].reshape(H, w, 3).astype(np.int64)
        if not topdown:
            px = px[::-1]
        return px.sum(axis=2) // 3
    if payload[:8] == b"\x89PNG\r\n\x1a\n" or payload[:3] == b"\xff\xd8\xff" or magic == b"GI":
        raise NotImplementedError(
            "compressed container (png/jpeg/gif) — codec libs are not in "
            "this image; see extract_features' stub contract"
        )
    raise ValueError("undecodable payload: not P5/P6/BMP")


def encode_pgm(gray) -> bytes:
    """2D uint8-range array -> binary PGM (P5) bytes."""
    import numpy as np

    h, w = gray.shape
    return b"P5\n%d %d\n255\n" % (w, h) + np.asarray(gray, np.uint8).tobytes()


def encode_bmp24_gray(gray) -> bytes:
    """2D uint8-range array -> 24-bpp bottom-up BMP with B=G=R=v (so a
    correct decode returns exactly the input values)."""
    import struct

    import numpy as np

    h, w = gray.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), np.uint8)
    px = np.repeat(np.asarray(gray, np.uint8)[::-1, :, None], 3, axis=2)
    body[:, : w * 3] = px.reshape(h, w * 3)
    data = body.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
    ) + struct.pack("<IiihhIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + data


def _block_means(gray, n_rows: int, n_cols: int):
    """Exact block means of a 2D array on an n_rows x n_cols grid via one
    integral image (edges floor-partitioned like the 1D byte kernel);
    zero-area cells (image smaller than the grid) mean 0."""
    import numpy as np

    H, W = gray.shape
    ii = np.zeros((H + 1, W + 1), np.float64)
    ii[1:, 1:] = gray.cumsum(0).cumsum(1)
    re = (np.arange(n_rows + 1, dtype=np.int64) * H) // n_rows
    ce = (np.arange(n_cols + 1, dtype=np.int64) * W) // n_cols
    sums = (
        ii[re[1:], :][:, ce[1:]]
        - ii[re[:-1], :][:, ce[1:]]
        - ii[re[1:], :][:, ce[:-1]]
        + ii[re[:-1], :][:, ce[:-1]]
    )
    area = np.outer(re[1:] - re[:-1], ce[1:] - ce[:-1]).astype(np.float64)
    return np.divide(sums, area, out=np.zeros_like(sums), where=area > 0)


DECODE_SCHEMA = (
    "doc_id bigint, format string, width int, height int, pixel_sum bigint"
)


def decode_features(records: DataFrame) -> DataFrame:
    """REAL-decode features via mapInPandas: parse each payload with
    ``decode_raster`` and emit the container format, the decoded (not
    metadata-claimed) dimensions, and the exact integer pixel sum. The
    plan is map-only (partitioning inherited from the scan); undecodable
    payloads propagate their error — this operator is for raster columns,
    not the synthetic txt payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, sums = [], [], [], []
            for payload in pdf["payload"]:
                g = decode_raster(bytes(payload))
                fmts.append(
                    "pgm" if payload[:2] == b"P5"
                    else "ppm" if payload[:2] == b"P6"
                    else "bmp"
                )
                hs.append(g.shape[0])
                ws.append(g.shape[1])
                sums.append(int(g.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": fmts,
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "pixel_sum": sums,
                }
            )

    return records.select("doc_id", "payload").mapInPandas(
        run, schema=DECODE_SCHEMA
    )


#: raster-fixture generation law (restated verbatim by the census oracle):
#: w = doc_id % 13 + 4, h = doc_id % 11 + 4, pixel at row-major index i =
#: (doc_id*7 + i*13) % 256; even doc_id -> P5 PGM, odd -> 24-bpp BMP
#: (written B=G=R=v, so decoded gray == v exactly)
RASTER_W_MOD, RASTER_H_MOD = 13, 11


def attach_raster_payload(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload) deterministic UNCOMPRESSED raster
    fixtures. The generation law is pure integer arithmetic a SQL oracle
    restates without parsing a byte — so the oracle-paired census proves
    the engine-side decoder genuinely inverts the container encoding
    (netpbm header parse; BMP row padding + bottom-up order)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % RASTER_W_MOD + 4, d % RASTER_H_MOD + 4
                v = (d * 7 + np.arange(w * h, dtype=np.int64) * 13) % 256
                g = v.reshape(h, w)
                payloads.append(
                    encode_pgm(g) if d % 2 == 0 else encode_bmp24_gray(g)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(
        kernel, schema="doc_id long, payload binary"
    )


def multimodal_decode_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired end-to-end proof of the real decoder: raster fixtures
    attached by generation law, decoded from BYTES by decode_raster, and
    censused per source (counts, decoded dims, exact pixel sums, per-
    container-format counts). Any header/padding/orientation bug in the
    decoder breaks the sums against the law-restating SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    feats = decode_features(attach_raster_payload(docs))
    return (
        feats.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.col("width").cast("long")).alias("sum_width"),
            F.sum(F.col("height").cast("long")).alias("sum_height"),
            F.sum("pixel_sum").alias("sum_pixels"),
            F.count(F.when(F.col("format") == "bmp", 1)).alias("n_bmp"),
            F.count(F.when(F.col("format") == "pgm", 1)).alias("n_pgm"),
        )
    )


def decoded_perceptual_hashes(records: DataFrame) -> DataFrame:
    """dHash-64 over REAL decoded rasters: 8x9 grid of exact block means
    in IMAGE coordinates (one integral image per payload), bit(8r+c) =
    mean[r,c+1] > mean[r,c], packed to one signed long — the same
    fingerprint contract as ``perceptual_hashes`` but computed on pixels,
    so geometry-preserving edits (uniform brightness, small crops) leave
    it stable while the byte-raster form sees a reflowed stream."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = 1 << np.arange(63, -1, -1, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None or len(payload) == 0:
                    continue
                means = _block_means(
                    decode_raster(bytes(payload)), PHASH_ROWS, PHASH_COLS
                )
                bits = (means[:, 1:] > means[:, :-1]).ravel().astype(np.uint64)
                fp = int((bits * weights).sum())
                ids.append(doc_id)
                fps.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    return records.select("doc_id", "payload").mapInPandas(
        kernel, schema="doc_id long, fp long"
    )


def _banded_ramp_gray(doc_id: int):
    """64x64 fixture for the edit-recovery proof: 8 horizontal 8-px bands;
    band b ramps v = 3c (bit b of the Knuth-spread doc hash set) or
    189 - 3c. Values stay in [0, 189], leaving +20 brightness clamp-free."""
    import numpy as np

    spread = (doc_id * 2654435761) % 256
    c = np.arange(64, dtype=np.int64)
    inc, dec = 3 * c, 189 - 3 * c
    rows = [inc if (spread >> b) & 1 else dec for b in range(8)]
    return np.repeat(np.stack(rows), 8, axis=0)


def multimodal_decode_edit_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted crop + brightness recovery over REAL rasters — the edit
    classes the byte-raster dHash cannot catch (a crop reflows every row;
    tests pin its failure), recovered at hamming 0 by construction:

      * each doc gets the 64x64 banded-ramp PGM (strictly monotone per
        8-px band, direction from the doc's hash bits);
      * brightness edit: +20 on every pixel — max value 189+20=209 < 255,
        no clamp, so every strict block-mean inequality is preserved;
      * crop edit: drop the last 2 rows and 2 columns — each cropped grid
        row's cells mix at most two adjacent bands with the MAJORITY band
        being the original grid row's band (row edges for 62 px are
        0,7,15,23,31,38,46,54,62 — never a 4/4 tie), so each cell's mean
        stays strictly monotone in the original direction.

    Both edited fingerprints therefore equal the original EXACTLY for
    every doc_id — recovery is guaranteed, not probabilistic (the
    multimodal_near_dup_check posture). Output: one row with n_planted +
    two booleans; the oracle pins the count and TRUE/TRUE."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, base, bright, crop = [], [], [], []
            for doc_id in pdf["doc_id"]:
                g = _banded_ramp_gray(int(doc_id))
                ids.append(doc_id)
                base.append(encode_pgm(g))
                bright.append(encode_pgm(g + 20))
                crop.append(encode_pgm(g[:-2, :-2]))
            yield pd.DataFrame(
                {"doc_id": ids, "payload": base, "payload_bright": bright,
                 "payload_crop": crop}
            )

    docs = load_table(spark, sf_dir, "documents")
    variants = docs.select("doc_id").mapInPandas(
        kernel,
        schema="doc_id long, payload binary, payload_bright binary, "
        "payload_crop binary",
    )
    fp0 = decoded_perceptual_hashes(variants.select("doc_id", "payload"))
    fpb = decoded_perceptual_hashes(
        variants.select("doc_id", F.col("payload_bright").alias("payload"))
    ).withColumnRenamed("fp", "fp_bright")
    fpc = decoded_perceptual_hashes(
        variants.select("doc_id", F.col("payload_crop").alias("payload"))
    ).withColumnRenamed("fp", "fp_crop")
    j = fp0.join(fpb, "doc_id").join(fpc, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_planted"),
        F.min(F.col("fp_bright") == F.col("fp")).alias("brightness_ok"),
        F.min(F.col("fp_crop") == F.col("fp")).alias("crop_ok"),
    )
