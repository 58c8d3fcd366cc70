"""Multimodal column plumbing — opaque binary payloads with typed
metadata, batch feature extraction via Arrow-batched `mapInPandas`
(LLM-pipeline extension, SURVEY.md §2.6).

The Spark-side plumbing is REAL and tested: binary columns, metadata
structs, partition-preserving mapInPandas with an explicit output
schema, batch-shaped pandas processing. PNG payloads DECODE FOR REAL —
`decode_image` is the ONE decode implementation (stdlib codec in
`functions/png.py`: zlib scanlines, all five filters, no external
libraries), shared by `extract_features`, `extract_image_features`,
and the resize path. Non-PNG media formats stay behind `decode_real`,
the documented production hook (PIL / ffmpeg / torchcodec) that raises
NotImplementedError here.

At 100 TB: payloads never leave their scan partition (mapInPandas is a
map-only stage), Arrow moves whole batches across the Python boundary,
and feature outputs are small typed columns — the only thing later
stages shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, mime string, n_bytes int, payload_md5 string,"
    " content_md5 string, width int, height int, channels int,"
    " mean_luma double"
)


def attach_binary_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Model a media table: opaque binary payload + typed metadata
    struct (mime, byte size). The payload is a REAL per-doc gradient
    PNG (`attach_image_payload` — the one payload synthesizer), so
    every downstream decode exercises the real codec; the metadata
    struct is the plumbing this operator demonstrates (typed columns
    alongside opaque bytes)."""
    media = attach_image_payload(df, id_col)
    return media.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/png").alias("mime"),
            F.octet_length("payload").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_real(payload: bytes) -> dict:
    """Production decode hook for NON-PNG media — plug PIL / ffmpeg /
    torchcodec here. PNG decodes for real via `decode_image`.

    STUB: other media codecs are not available in this environment.
    """
    raise NotImplementedError(
        "non-PNG media decoding requires an image/audio codec library; "
        "PNG payloads decode for real via decode_image"
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payloads: two
    content identities plus REAL decoded image features — the stdlib PNG
    codec (`functions/png.py`, the one decode implementation) runs
    inside the batches.

    - ``payload_md5`` hashes the ENCODED bytes: cheap, but two encodings
      of the same image differ (encoder/compression-level dependent, so
      not ANSI-SQL replayable either).
    - ``content_md5`` hashes the canonical DECODED content
      (``"{w}x{h}x{ch}:" + ','.join(row-major pixels)``): the identity an
      image-dedup pass should key on — encoding-invariant, and closed-form
      replayable by the DuckDB oracle from the fixture's pixel formula.
    - ``mean_luma`` is the round-half-up integer-micro mean
      (``(2·sum + n) // (2·n)`` of pixel values ×1e6) divided back to a
      double — exact in any engine, no float-rounding drift.

    mapInPandas keeps partitioning intact (no shuffle); each Python
    worker sees whole Arrow batches.
    `spark.sql.execution.arrow.maxRecordsPerBatch` bounds peak memory
    when payloads are large (set it session-wide for real media).
    """
    import hashlib

    from etl_acordos_spark.functions.png import decode_png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [bytes(p) for p in pdf["payload"]]
            rows = []
            for doc_id, meta, p in zip(pdf["doc_id"], pdf["meta"], raw):
                arr = decode_png(p)
                h, w, ch = arr.shape
                flat = arr.reshape(-1)
                canon = f"{w}x{h}x{ch}:" + ",".join(
                    str(int(v)) for v in flat
                )
                s, n = int(flat.sum(dtype="int64")), int(flat.size)
                micro = (2 * s * 1_000_000 + n) // (2 * n)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "mime": meta["mime"],
                        "n_bytes": len(p),
                        "payload_md5": hashlib.md5(p).hexdigest(),
                        "content_md5": hashlib.md5(
                            canon.encode("ascii")
                        ).hexdigest(),
                        "width": w,
                        "height": h,
                        "channels": ch,
                        "mean_luma": micro / 1e6,
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


# ------------------------------------------------- real PNG decode path

IMAGE_FEATURE_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, sum_px bigint"
)


def attach_image_payload(df: DataFrame, id_col: str) -> DataFrame:
    """Synthesize a REAL image payload per row: a deterministic grayscale
    gradient PNG (w = 8 + id%9, h = 8 + id%7, pixel(y,x) =
    (x + y + id) % 256), encoded with the stdlib codec
    (`functions/png.py`). Map-only mapInPandas — payload generation is
    the stand-in for reading real image bytes off object storage; every
    downstream decode sees genuine PNG structure (signature, IHDR,
    zlib'd filtered scanlines)."""
    import numpy as np

    from etl_acordos_spark.functions.png import encode_png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 9, 8 + d % 7
                yy, xx = np.mgrid[0:h, 0:w]
                img = ((xx + yy + d) % 256).astype(np.uint8)
                payloads.append(encode_png(img))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return media_ids(df, id_col).mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def media_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Project the id column under the canonical media-table name."""
    return df.select(F.col(id_col).alias("doc_id"))


def decode_image(payload: bytes) -> dict:
    """REAL decode for PNG payloads (stdlib codec — no external libs);
    other formats still raise NotImplementedError and belong to
    `decode_real`'s production hook."""
    from etl_acordos_spark.functions.png import SIGNATURE, decode_png

    b = bytes(payload)
    if b[:8] != SIGNATURE:
        return decode_real(b)  # non-PNG codecs stay a documented stub
    arr = decode_png(b)
    h, w, ch = arr.shape
    return {
        "width": w,
        "height": h,
        "channels": ch,
        "sum_px": int(arr.astype("int64").sum()),
    }


def extract_image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL image decode: PNG payloads → integer-exact
    features (dims + pixel sum — integers so an independent closed-form
    oracle can replay them bit-for-bit). Map-only: payloads never leave
    their scan partition; only the small typed features flow on."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "channels": [f["channels"] for f in feats],
                    "sum_px": [f["sum_px"] for f in feats],
                }
            )

    return media.mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


def resize_images_nn(
    media: DataFrame, target_width: int = 8, target_height: int = 8
) -> DataFrame:
    """REAL resize for PNG payloads: decode → nearest-neighbor resample
    (src index = floor(dst·src_dim/dst_dim) — the closed-form-friendly
    NN convention, documented so an independent oracle can replay it) →
    re-encode → re-decode features. Map-only; payloads never shuffle.
    Output: (doc_id, width, height, channels, sum_px) of the RESIZED
    image."""
    import numpy as np

    from etl_acordos_spark.functions.png import decode_png, encode_png

    W, H = target_width, target_height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                src = decode_png(bytes(p))
                h, w, ch = src.shape
                ys = (np.arange(H) * h) // H
                xs = (np.arange(W) * w) // W
                dst = src[np.ix_(ys, xs)]
                # encode→decode round-trip: the resized payload is a
                # real PNG again, exactly as a production pipeline
                # re-materializes thumbnails
                out = decode_png(encode_png(dst))
                feats.append(
                    (W, H, ch, int(out.astype("int64").sum()))
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "channels": [f[2] for f in feats],
                    "sum_px": [f[3] for f in feats],
                }
            )

    return media.mapInPandas(run, schema=IMAGE_FEATURE_SCHEMA)


def image_ahash_dedup(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual-hash (average-hash) image dedup: decode each PNG,
    nearest-neighbor-downsample to *grid*×*grid* (the SAME floor-index
    convention as `resize_images_nn`, so an oracle can replay it),
    set bit i = 1 iff pixel_i > floor(mean of the grid), pack the
    grid² bits row-major into two 32-bit halves carried as BIGINTs
    (one signed 64-bit int can't hold bit 63 portably across engines),
    and claim first-by-id per hash — the image analog of
    `ext_dedup_exact`: byte-identical re-encodes AND visually-identical
    re-renders collide, which a byte sha2 misses.

    Map-only decode+hash inside Arrow-batched mapInPandas (payloads
    never shuffle); the dup verdict is one window-min keyed on the
    16-byte hash pair — the url_dedup shape. Requires grid² ≤ 64."""
    import numpy as np

    from etl_acordos_spark.functions.png import decode_png

    if grid * grid > 64:
        raise ValueError(f"image_ahash_dedup: grid² must be ≤ 64, got {grid}")
    G = grid

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            his, los = [], []
            for p in pdf["payload"]:
                src = decode_png(bytes(p))[:, :, 0].astype(np.int64)
                h, w = src.shape
                ys = (np.arange(G) * h) // G
                xs = (np.arange(G) * w) // G
                cells = src[np.ix_(ys, xs)]
                mean = int(cells.sum()) // (G * G)
                bits = (cells > mean).flatten()  # i = y*G + x
                val = 0
                for i, b in enumerate(bits):
                    if b:
                        val |= 1 << i
                his.append((val >> 32) & 0xFFFFFFFF)
                los.append(val & 0xFFFFFFFF)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "phash_hi": his, "phash_lo": los}
            )

    from pyspark.sql import Window

    hashed = media.mapInPandas(
        run, schema="doc_id bigint, phash_hi bigint, phash_lo bigint"
    )
    w_hash = Window.partitionBy("phash_hi", "phash_lo")
    return hashed.select(
        "doc_id",
        "phash_hi",
        "phash_lo",
        (F.col("doc_id") != F.min("doc_id").over(w_hash)).alias("dup"),
    )


# frames are shipped length-prefixed (4-byte big-endian size + PNG) —
# the chunked-container shape real video/archive formats use
VIDEO_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, sum_px bigint"
)


def attach_video_payload(
    df: DataFrame, id_col: str, frame_w: int = 8, frame_h: int = 6
) -> DataFrame:
    """Synthesize a video-like payload per row: n = 2 + id%4 PNG frames
    (frame f pixel(y,x) = (x + y + id + f) % 256) concatenated with
    4-byte length prefixes. Real container parsing + real image decode
    downstream, still zero external libraries."""
    import struct

    import numpy as np

    from etl_acordos_spark.functions.png import encode_png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                yy, xx = np.mgrid[0:frame_h, 0:frame_w]
                frames = []
                for f in range(2 + d % 4):
                    img = ((xx + yy + d + f) % 256).astype(np.uint8)
                    png = encode_png(img)
                    frames.append(struct.pack(">I", len(png)) + png)
                payloads.append(b"".join(frames))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return media_ids(df, id_col).mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def sample_video_frames(media: DataFrame, stride: int = 2) -> DataFrame:
    """REAL frame sampling: walk the length-prefixed container, decode
    every *stride*-th frame, emit integer-exact per-frame features —
    the fan-out mapInPandas shape a video keyframe sampler needs
    (row-multiplying, but payloads still never shuffle)."""
    import struct

    from etl_acordos_spark.functions.png import decode_png

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, sums = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                pos = frame_idx = 0
                while pos + 4 <= len(b):
                    (ln,) = struct.unpack(">I", b[pos : pos + 4])
                    png = b[pos + 4 : pos + 4 + ln]
                    pos += 4 + ln
                    if frame_idx % stride == 0:
                        arr = decode_png(png)
                        h, w, _ = arr.shape
                        ids.append(doc_id)
                        idxs.append(frame_idx)
                        ws.append(w)
                        hs.append(h)
                        sums.append(int(arr.astype("int64").sum()))
                    frame_idx += 1
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "width": ws,
                    "height": hs,
                    "sum_px": sums,
                }
            )

    return media.mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


# ---------------------------------------------------- real WAV audio path

AUDIO_FEATURE_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, n_samples int,"
    " sum_abs bigint, peak int"
)


def attach_audio_payload(
    df: DataFrame, id_col: str, sample_rate: int = 8000
) -> DataFrame:
    """Synthesize a REAL audio payload per row: a canonical RIFF/WAVE
    file (PCM 16-bit mono, fmt + data chunks) holding a deterministic
    sawtooth n = 64 + id%97 samples long, s_i = ((id + i) · 523) %
    65536 − 32768. Pure struct-packing — the WAV container is simple
    enough that no codec library is needed at all."""
    import struct

    def wav(d: int) -> bytes:
        n = 64 + d % 97
        frames = b"".join(
            struct.pack(
                "<h", ((d + i) * 523) % 65536 - 32768
            )
            for i in range(n)
        )
        fmt = struct.pack(
            "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
        )
        data_sz = len(frames)
        return (
            b"RIFF"
            + struct.pack("<I", 4 + 8 + len(fmt) + 8 + data_sz)
            + b"WAVE"
            + b"fmt "
            + struct.pack("<I", len(fmt))
            + fmt
            + b"data"
            + struct.pack("<I", data_sz)
            + frames
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [wav(int(d)) for d in pdf["doc_id"]],
                }
            )

    return media_ids(df, id_col).mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL WAV parse + PCM decode via numpy: walk the RIFF chunks,
    read fmt, interpret the data chunk as int16 frames, emit
    integer-exact features (duration, Σ|s|, peak) — map-only, payloads
    never shuffle."""
    import struct

    import numpy as np

    def features(b: bytes) -> tuple:
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        pos = 12
        rate = ch = None
        samples = None
        while pos + 8 <= len(b):
            tag = b[pos : pos + 4]
            (sz,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            body = b[pos + 8 : pos + 8 + sz]
            pos += 8 + sz + (sz & 1)  # chunks are word-aligned
            if tag == b"fmt ":
                fmt_code, ch, rate, _, _, bits = struct.unpack(
                    "<HHIIHH", body[:16]
                )
                if fmt_code != 1 or bits != 16:
                    raise ValueError("only 16-bit PCM supported")
            elif tag == b"data":
                samples = np.frombuffer(body, dtype="<i2").astype(
                    np.int64
                )
        if rate is None or samples is None:
            raise ValueError("missing fmt/data chunk")
        return (
            rate,
            ch,
            len(samples) // ch,
            int(np.abs(samples).sum()),
            int(np.abs(samples).max()),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [features(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [f[0] for f in feats],
                    "n_channels": [f[1] for f in feats],
                    "n_samples": [f[2] for f in feats],
                    "sum_abs": [f[3] for f in feats],
                    "peak": [f[4] for f in feats],
                }
            )

    return media.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)
