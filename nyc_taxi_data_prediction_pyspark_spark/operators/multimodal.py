"""Multimodal columns (SURVEY.md §2.10 M6).

Images/audio/video are opaque ``binary`` payloads + a typed metadata
struct (schemas.MEDIA). Frame sampling, resize, and audio features are
REAL implementations over two documented raw container formats (SRV0
grayscale video, SRA0 PCM16 audio — header parse + payload slicing +
numpy math, no codec library needed); COMPRESSED formats (mp4/jpeg/
mp3) need external codecs, which swap in behind the same mapInPandas
seams. ``decode_media``'s feature extractor remains a labeled
deterministic stand-in for a learned embedder.

Scale notes: binary payloads blow up row size, so
``spark.sql.files.maxPartitionBytes`` should be sized down for media
tables, and decode runs in ``mapInPandas`` (Arrow batches) with
payloads never passing through a Python row loop one-at-a-time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

DECODED_SCHEMA = (
    "media_id long, mime string, n_bytes long, width int, height int, feature array<double>"
)


def read_media_dir(spark, path: str, *, glob: str = "*", mime: str = "application/octet-stream") -> DataFrame:
    """Object-store media ingestion via Spark's binaryFile source
    (S-series analog for media): one row per file with path, length,
    modificationTime, content — mapped onto the MEDIA contract.
    Partition sizing note: binaryFile caps rows per task by
    ``spark.sql.files.maxPartitionBytes``; size it to a few payloads."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return raw.select(
        F.xxhash64("path").alias("media_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.col("length").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
        F.col("path").alias("source_path"),
    )


def attach_binary(df: DataFrame, *, src_col: str, id_col: str, mime: str) -> DataFrame:
    """Build a media table from any string column: payload = utf-8
    bytes (deterministic fake for a real object-store read), metadata
    struct populated from the payload itself."""
    payload = F.col(src_col).cast("binary")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for an image decoder: derives a fake
    (width, height) and a 4-dim feature from the bytes. Replace with
    PIL/libvips behind this exact signature in a real deployment."""
    n = len(payload)
    width = (n % 64) + 1
    height = (n % 48) + 1
    s = sum(payload[: min(n, 256)])
    feature = [float(n), float(width), float(height), float(s % 997)]
    return width, height, feature


def decode_media(df: DataFrame) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow batch in/out).

    The UDF body touches pandas Series of raw bytes — the batch shape
    a real decoder needs. Codec libraries aren't installed here, so
    ``_fake_decode`` stands in; the Spark plumbing is the deliverable.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [_fake_decode(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "feature": [d[2] for d in decoded],
                }
            )

    return df.mapInPandas(batches, schema=DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Raw-container codecs (REAL, in-container implementations)
#
# Compressed formats (mp4/jpeg/mp3) need external codec libraries that are
# not in this container; raw containers don't.  Two minimal formats are
# defined here so the frame-sampling / resize / audio-feature operators are
# REAL end-to-end — header parse, payload slicing, numpy math — with the
# documented seam where a production deployment swaps the raw parser for
# pyav/PIL/soundfile inside the same mapInPandas batch loop:
#
#   SRV0 (simple raw video):  b"SRV0" | width u16 LE | height u16 LE |
#       fps u16 LE | frames… (each width*height bytes, 8-bit grayscale)
#   SRA0 (simple raw audio):  b"SRA0" | sample_rate u32 LE |
#       samples… (int16 LE PCM)
# ---------------------------------------------------------------------------

FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms long, width int, height int, frame binary"
AUDIO_FEATURE_SCHEMA = "media_id long, window_idx int, feature array<float>"


def synthetic_video_table(
    spark, *, n_videos: int, n_frames: int = 24, width: int = 32, height: int = 24, fps: int = 12
) -> DataFrame:
    """Deterministic SRV0 video corpus, generated DISTRIBUTED (one
    mapInPandas pass over ``spark.range`` — no driver-side byte
    building): video v's frame f is a gradient keyed on (v, f), so any
    sampled frame's content is predictable in tests."""
    import struct

    import numpy as np

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for vid in pdf["id"]:
                frames = np.add.outer(
                    np.arange(n_frames, dtype=np.uint8) * 3 + (int(vid) % 251),
                    np.zeros(width * height, dtype=np.uint8),
                ).astype(np.uint8)
                frames += np.arange(width * height, dtype=np.uint8)[None, :]
                payloads.append(
                    struct.pack("<4sHHH", b"SRV0", width, height, fps)
                    + frames.tobytes()
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "payload": payloads,
                    "mime": ["video/x-srv0"] * len(pdf),
                }
            )

    raw = spark.range(n_videos).mapInPandas(
        gen, schema="media_id long, payload binary, mime string"
    )
    return raw.select(
        "media_id",
        "payload",
        F.struct(
            F.col("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.lit(int(n_frames * 1000 / fps)).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def frame_sample(df: DataFrame, every_ms: int) -> DataFrame:
    """Video frame sampling: one input row → one output row per sampled
    frame (t = 0, every_ms, 2·every_ms, … mapped to frame
    floor(t·fps/1000)) — the EXPANDING mapInPandas shape: the
    iterator-of-DataFrames signature fans out natively, and a yielded
    batch never holds more than one video's frames, so executor memory
    is bounded by one payload + its samples, not the Arrow input batch.
    SRV0 parse is a real header unpack + payload slice; a production
    mp4 path replaces only the parser (pyav) inside this loop."""
    import struct

    hdr_size = 10  # <4sHHH

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                magic, w, h, fps = struct.unpack_from("<4sHHH", buf, 0)
                if magic != b"SRV0":
                    raise ValueError(f"not an SRV0 payload (media_id={mid})")
                fsz = w * h
                n_frames = (len(buf) - hdr_size) // fsz
                dur_ms = int(n_frames * 1000 / fps)
                idxs, seen = [], set()
                for t in range(0, max(dur_ms, 1), every_ms):
                    k = min(t * fps // 1000, n_frames - 1)
                    if k not in seen:
                        seen.add(k)
                        idxs.append((k, int(k * 1000 / fps)))
                yield pd.DataFrame(
                    {
                        "media_id": [mid] * len(idxs),
                        "frame_idx": [k for k, _ in idxs],
                        "ts_ms": [t for _, t in idxs],
                        "width": [w] * len(idxs),
                        "height": [h] * len(idxs),
                        "frame": [
                            buf[hdr_size + k * fsz : hdr_size + (k + 1) * fsz]
                            for k, _ in idxs
                        ],
                    }
                )

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)


def resize_frames(df: DataFrame, out_width: int, out_height: int) -> DataFrame:
    """Nearest-neighbor resize of grayscale frames — REAL resampling
    (numpy integer-grid index gather), no image library required; a
    production path swaps in PIL/libvips for filtered resampling inside
    the same batch loop.  Input is ``frame_sample``'s schema; output
    replaces (width, height, frame)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for frame, w, h in zip(pdf["frame"], pdf["width"], pdf["height"]):
                img = np.frombuffer(bytes(frame), dtype=np.uint8).reshape(int(h), int(w))
                ys = (np.arange(out_height) * int(h)) // out_height
                xs = (np.arange(out_width) * int(w)) // out_width
                out.append(img[np.ix_(ys, xs)].tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "ts_ms": pdf["ts_ms"],
                    "width": [out_width] * len(pdf),
                    "height": [out_height] * len(pdf),
                    "frame": out,
                }
            )

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)


def synthetic_audio_table(
    spark, *, n_clips: int, n_samples: int = 8000, sample_rate: int = 8000
) -> DataFrame:
    """Deterministic SRA0 PCM corpus, generated distributed: clip c is
    a sine at (100 + c mod 200) Hz — so windowed features are
    predictable (energy concentrates in the matching FFT band)."""
    import struct

    import numpy as np

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for cid in pdf["id"]:
                freq = 100.0 + (int(cid) % 200)
                t = np.arange(n_samples, dtype=np.float64) / sample_rate
                pcm = (np.sin(2 * np.pi * freq * t) * 12000).astype("<i2")
                payloads.append(struct.pack("<4sI", b"SRA0", sample_rate) + pcm.tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "payload": payloads,
                    "mime": ["audio/x-sra0"] * len(pdf),
                }
            )

    raw = spark.range(n_clips).mapInPandas(
        gen, schema="media_id long, payload binary, mime string"
    )
    return raw.select(
        "media_id",
        "payload",
        F.struct(
            F.col("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(int(n_samples * 1000 / sample_rate)).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def audio_features(df: DataFrame, window_ms: int = 25) -> DataFrame:
    """Windowed audio features over SRA0 PCM — REAL signal math, all
    numpy: per non-overlapping window, feature = [rms, zero-crossing
    rate, peak, log-energy of 4 FFT bands] (8 floats).  Same expanding
    mapInPandas shape as ``frame_sample``; soundfile/librosa replace
    only the parser + filterbank in production."""
    import struct

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                magic, rate = struct.unpack_from("<4sI", buf, 0)
                if magic != b"SRA0":
                    raise ValueError(f"not an SRA0 payload (media_id={mid})")
                pcm = np.frombuffer(buf, dtype="<i2", offset=8).astype(np.float64)
                pcm /= 32768.0
                win = max(int(rate * window_ms / 1000), 1)
                n_win = len(pcm) // win
                if n_win == 0:
                    continue
                w = pcm[: n_win * win].reshape(n_win, win)
                rms = np.sqrt((w * w).mean(axis=1))
                zcr = (np.diff(np.signbit(w).astype(np.int8), axis=1) != 0).mean(axis=1)
                peak = np.abs(w).max(axis=1)
                spec = np.abs(np.fft.rfft(w, axis=1)) ** 2
                bands = np.array_split(spec, 4, axis=1)
                loge = [np.log1p(b.sum(axis=1)) for b in bands]
                feats = np.column_stack([rms, zcr, peak, *loge]).astype(np.float32)
                yield pd.DataFrame(
                    {
                        "media_id": [mid] * n_win,
                        "window_idx": np.arange(n_win, dtype=np.int32),
                        "feature": [row.tolist() for row in feats],
                    }
                )

    return df.mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)


def media_stats(df: DataFrame) -> DataFrame:
    """Typed-metadata analytics over the binary table — stays entirely
    in built-ins (no payload access): bytes histogram per mime."""
    return df.groupBy(F.col("meta.mime").alias("mime")).agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.min("meta.n_bytes").alias("min_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
    )


PHASH_SCHEMA = "media_id long, frame_idx int, phash long"


def frame_phash(df: DataFrame) -> DataFrame:
    """Perceptual hash (aHash) of grayscale frames — the image-dedup
    primitive an LLM multimodal pipeline runs before training (near-
    identical crops/re-encodes of one image collapse to hashes within
    a few bits): block-average the frame onto an 8×8 grid (REAL numpy
    block means over the pixel array — the resize_frames gather, with
    averaging), threshold each cell at the grid mean (strictly-greater
    — ties to 0, deterministic), and pack the 64 bits row-major (bit
    63 = cell (0,0)) into one BIGINT.

    Input is ``frame_sample``'s schema; one row in → one row out, so
    the plain mapInPandas batch shape applies. All integer/float math
    is numpy float64 over uint8 pixels — deterministic everywhere.
    Returns (media_id, frame_idx, phash)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = []
            for frame, w, h in zip(pdf["frame"], pdf["width"], pdf["height"]):
                img = np.frombuffer(bytes(frame), dtype=np.uint8).reshape(int(h), int(w))
                if int(h) % 8 == 0 and int(w) % 8 == 0:
                    # 8-divisible fast path: one vectorized reshape-mean
                    # — exact-integer sums, so bit-identical to the
                    # general block loop below
                    cells = (
                        img.reshape(8, int(h) // 8, 8, int(w) // 8)
                        .astype(np.float64)
                        .mean(axis=(1, 3))
                    )
                else:
                    ys = (np.arange(9) * int(h)) // 8
                    xs = (np.arange(9) * int(w)) // 8
                    cells = np.empty((8, 8), dtype=np.float64)
                    for i in range(8):
                        for j in range(8):
                            block = img[ys[i] : max(ys[i + 1], ys[i] + 1),
                                        xs[j] : max(xs[j + 1], xs[j] + 1)]
                            cells[i, j] = block.mean()
                bits = (cells > cells.mean()).astype(np.uint8).ravel()
                ph = int.from_bytes(np.packbits(bits).tobytes(), "big")
                # interpret as signed 64-bit for the BIGINT column
                if ph >= 1 << 63:
                    ph -= 1 << 64
                hashes.append(ph)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "phash": hashes,
                }
            )

    return df.mapInPandas(batches, schema=PHASH_SCHEMA)


def phash_near_dupes(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate media pairs by banded Hamming matching over
    perceptual hashes — the simhash_pairs machinery applied to image
    hashes: the 64-bit hash splits into ``bands`` equal bit-bands, a
    candidate pair must share at least one exact band (pigeonhole:
    LOSSLESS for pairs within ``bands``-1 differing bits — with the
    default 4 bands every pair at Hamming ≤ 3 is guaranteed found),
    then the exact Hamming distance filters at ``max_hamming``.

    Shape: the posting-list form of ``dedup._jaccard_from_postings``,
    not a self-join, so the hash frame (and whatever Python computed
    it) is read once. Each (band, band key) bucket gathers its
    ``(id, hash)`` members into one row and expands its pairs in-row;
    a pair sharing several bands is emitted once per band and collapsed
    by the final ``distinct``.

    Scale: the gather is bounded by the bucket's population, about
    N/2^(64/bands) for spread hashes (N/2^16 at 4 bands) — never an
    all-pairs comparison. A degenerate bucket (many media on one band
    key) is quadratic in pair output, exactly as under a banded
    equi-join; if it ever needs a cap, ``ngram_jaccard_pairs``'
    ``max_posting`` is the template. One row per media is assumed
    (pre-aggregate multi-frame media to a representative frame, e.g.
    frame 0, before calling). Returns (id_a, id_b, hamming) with
    id_a < id_b."""
    if not 64 % bands == 0:
        raise ValueError("bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    keys = ", ".join(
        f"named_struct('band', {b}, 'bkey', shiftright(h, {b * width}) & {mask}L)"
        for b in range(bands)
    )
    posting = (
        hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
        .selectExpr("id", "h", f"inline(array({keys}))")
        .groupBy("band", "bkey")
        .agg(F.collect_list(F.struct("id", "h")).alias("m"))
        .where(F.size("m") > 1)
    )
    return posting.selectExpr(
        "inline(filter(flatten(transform(m, x -> transform(m, y -> named_struct("
        "'id_a', x.id, 'id_b', y.id, 'hamming', bit_count(x.h ^ y.h))))),"
        f" p -> p.id_a < p.id_b AND p.hamming <= {max_hamming}))"
    ).distinct()


def scene_changes(
    df: DataFrame,
    *,
    id_col: str = "media_id",
    payload_col: str = "payload",
    threshold: int,
) -> DataFrame:
    """Video scene-change detection over SRV0 payloads: decode each
    video's frames (REAL header parse + numpy over the binary column —
    the production seam swaps pyav into the same mapInPandas loop),
    compute the SAD (sum of absolute differences, exact integers —
    the classic shot-boundary signal) between every adjacent frame
    pair, and flag a scene change where SAD ≥ ``threshold``.

    Returns per video: (media_id, n_frames, n_changes,
    first_change_idx, max_sad) — first_change_idx is the index of the
    first frame that STARTS a new scene (-1 when none), all values
    exact BIGINTs so a deterministic synthetic corpus value-hash
    checks the entire codec path (the q197 discipline).

    Scale shape: narrow mapInPandas — no shuffle at all; per-task
    state is one video's frames (payload tables keep a few payloads
    per split via maxPartitionBytes). SAD in int64, immune to uint8
    overflow.
    """
    import struct

    import numpy as np

    def go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                buf = bytes(payload)
                magic, w, h, _fps = struct.unpack_from("<4sHHH", buf, 0)
                if magic != b"SRV0":
                    raise ValueError(f"scene_changes: not an SRV0 payload for id={mid}")
                body = np.frombuffer(buf, dtype=np.uint8, offset=10)
                px = w * h
                n = len(body) // px
                frames = body[: n * px].reshape(n, px).astype(np.int64)
                if n > 1:
                    sad = np.abs(np.diff(frames, axis=0)).sum(axis=1)
                    hits = np.nonzero(sad >= threshold)[0]
                    out.append(
                        (
                            int(mid),
                            n,
                            int(len(hits)),
                            int(hits[0] + 1) if len(hits) else -1,
                            int(sad.max()),
                        )
                    )
                else:
                    out.append((int(mid), n, 0, -1, 0))
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_frames", "n_changes", "first_change_idx", "max_sad"],
            )

    return df.mapInPandas(
        go,
        schema="media_id long, n_frames int, n_changes int, first_change_idx int, max_sad long",
    )
