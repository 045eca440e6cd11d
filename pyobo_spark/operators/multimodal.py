"""Multimodal column plumbing — image/audio/video as opaque binary columns
with typed metadata. Two decode paths: the default deterministic fake
(sha256 digest features — fully testable without codec libs) and a
working minimal pure-numpy decoder for uncompressed containers (binary
PPM images, PCM WAV audio, CSV tables, and YUV4MPEG2 (.y4m) raw video —
all four media kinds decode); compressed formats
(JPEG/PNG/MP3/MP4) need
codec libraries not in this container and surface as
decode_status='unsupported' rather than task failures. The Spark-side
plumbing (schema, partitioning, Arrow batch shape, UDF signatures) is
real and tested on both paths.

At scale: media bytes live in the `content` binary column of a separate
media table keyed by media_ref (never inline in the documents table —
keeps the text-plane scans narrow); decode stages are mapInPandas over
that table, partitioned by media_ref hash so one oversized asset can't
skew a partition.
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
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video|table
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("decode_status", T.StringType()),
    ]
)


class UnsupportedMediaError(NotImplementedError):
    """Raised for container formats the minimal decoder can't parse
    (JPEG/PNG/MP3/MP4 need codec libraries not in this environment)."""


def _parse_ppm_header(content: bytes):
    """Header-only PPM parse: (w, h, maxval, raster_offset). Tokens may
    be separated by any whitespace/comments. Shared by the full decoder
    and the metadata probe (which must not touch the raster)."""
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":  # comment to EOL
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if w <= 0 or h <= 0 or maxval <= 0:
        # without this, numpy treats h=-1 as an inferred reshape dim and
        # a negative frombuffer count as read-all — the row would decode
        # 'ok' with nonsense features
        raise ValueError(f"bad PPM header dims {w}x{h} max={maxval}")
    if maxval > 255:
        raise UnsupportedMediaError("16-bit PPM not supported")
    return w, h, maxval, pos


def _parse_wav_chunks(content: bytes):
    """RIFF chunk walk: (fmt tuple, data bytes) for PCM WAV. Shared by
    the full decoder and the metadata probe (which needs only fmt +
    data LENGTH, never the converted samples)."""
    import struct

    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack(
            "<I", content[pos + 4 : pos + 8]
        )[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise UnsupportedMediaError("WAV missing fmt/data chunk")
    audio_fmt, _, _, _, _, bits = fmt
    if audio_fmt != 1 or bits not in (8, 16):
        raise UnsupportedMediaError(
            f"only 8/16-bit PCM WAV supported (fmt={audio_fmt}, "
            f"bits={bits})"
        )
    return fmt, data


def _parse_y4m_header(content: bytes):
    """Header-only YUV4MPEG2 parse: (w, h, fps_num, fps_den,
    first_frame_offset, frame_size_bytes). Shared by the full decoder
    and the metadata probe. Supports the uncompressed planar
    colorspaces a pure-numpy decoder can handle (C420*, C444, Cmono);
    anything else raises :class:`UnsupportedMediaError`."""
    nl = content.find(b"\n")
    if nl < 0:
        raise ValueError("y4m stream has no header line")
    w = h = None
    num = den = None
    cs = b"420"
    for p in content[10:nl].split(b" "):
        if p.startswith(b"W"):
            w = int(p[1:])
        elif p.startswith(b"H"):
            h = int(p[1:])
        elif p.startswith(b"F"):
            num, den = (int(x) for x in p[1:].split(b":"))
        elif p.startswith(b"C"):
            cs = p[1:]
    if num is None or den is None:
        # YUV4MPEG2 has NO default frame rate — F is formally optional
        # but every time-derived output (duration_ms, fps feature, the
        # frame-sampler's tick->frame mapping) would be silently wrong
        # under an invented one, so a rate-less clip degrades to
        # 'unsupported' instead of decoding with fabricated timing
        raise UnsupportedMediaError("y4m stream has no F (frame rate)")
    if w is None or h is None or w <= 0 or h <= 0 or num <= 0 or den <= 0:
        raise ValueError(f"bad y4m header dims {w}x{h} fps={num}:{den}")
    if cs in (b"420", b"420jpeg", b"420mpeg2", b"420paldv"):
        # exactly the 8-bit 4:2:0 variants — a prefix match would also
        # catch C420p10/C420p12 (10/12-bit), size their frames as 8-bit,
        # land mid-raster and misreport the clip as 'corrupt'
        if w % 2 or h % 2:
            raise ValueError("4:2:0 y4m requires even dimensions")
        frame_size = w * h + 2 * ((w // 2) * (h // 2))
    elif cs == b"444":
        frame_size = 3 * w * h
    elif cs == b"mono":
        frame_size = w * h
    else:
        raise UnsupportedMediaError(
            # errors='replace': an arbitrary-bytes colorspace token must
            # surface as 'unsupported', not explode into a
            # UnicodeDecodeError that the degrade path would misfile as
            # 'corrupt'
            f"y4m colorspace C{cs.decode(errors='replace')} not supported"
        )
    return w, h, num, den, nl + 1, frame_size


def _y4m_frame_offsets(content: bytes, pos: int, frame_size: int) -> list:
    """Offsets of each frame's raster (after its FRAME marker line).
    Walking markers is O(n_frames) pointer arithmetic — no pixel
    conversion — so the metadata probe can count frames header-only."""
    offsets = []
    while pos < len(content):
        if content[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad y4m FRAME marker at offset {pos}")
        nl = content.find(b"\n", pos)
        if nl < 0:
            raise ValueError("unterminated y4m FRAME line")
        raster = nl + 1
        if len(content) - raster < frame_size:
            raise ValueError("y4m frame shorter than header promises")
        offsets.append(raster)
        pos = raster + frame_size
    return offsets


def _probe_meta(kind: str, content: bytes) -> dict:
    """Header-only metadata: dims/duration WITHOUT materializing pixels
    or samples — at blob-store scale a metadata sweep must not pay the
    full-decode CPU. Tables have no header shortcut (the CSV parse IS
    the dimension computation), so they fall through to the decoder."""
    if kind == "table":
        _, meta = _real_decode(kind, content)
        return meta
    if content[:2] == b"P6":
        w, h, _, pos = _parse_ppm_header(content)
        if len(content) - pos < w * h * 3:
            raise ValueError("PPM raster shorter than header promises")
        return {"width": w, "height": h}
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        (_, n_ch, rate, _, _, bits), data = _parse_wav_chunks(content)
        n_frames = len(data) // ((bits // 8) * n_ch)
        return {
            "sample_rate": rate,
            "duration_ms": int(n_frames * 1000 / rate) if rate else 0,
        }
    if content[:10] == b"YUV4MPEG2 ":
        w, h, num, den, pos, frame_size = _parse_y4m_header(content)
        n = len(_y4m_frame_offsets(content, pos, frame_size))
        return {
            "width": w,
            "height": h,
            "duration_ms": int(n * 1000 * den / num),
        }
    raise UnsupportedMediaError(f"no header parser for this {kind} payload")


def _real_decode(kind: str, content: bytes):
    """Minimal pure-numpy decoder for three uncompressed container
    formats — binary PPM (P6) images, PCM WAV audio, and CSV tables
    (kind='table') — so the non-fake decode path is a working kernel,
    not a stub. Returns ``(samples: np.ndarray, meta: dict)``: images
    an (h, w, 3) uint8 array with width/height meta; audio a float
    array in [-1, 1] with sample_rate/duration_ms meta; tables a 2-D
    object cell array with width(cols)/height(rows) meta. Anything
    else raises :class:`UnsupportedMediaError` (the row gets
    decode_status 'unsupported', it never kills the job)."""
    import struct

    import numpy as np

    if kind == "table":
        # CSV-in-binary (the MEDIA_SCHEMA 'table' kind): cells as a 2-D
        # object array, dims in width(cols)/height(rows) terms so the
        # metadata probe fills the same columns as images
        import csv
        import io

        try:
            text = content.decode("utf-8")
        except UnicodeDecodeError as e:
            raise UnsupportedMediaError(f"table payload not UTF-8: {e}")
        rows = [r for r in csv.reader(io.StringIO(text)) if r]
        if not rows:
            raise ValueError("empty table payload")
        n_cols = max(len(r) for r in rows)
        cells = np.array(
            [r + [""] * (n_cols - len(r)) for r in rows], dtype=object
        )
        return cells, {"width": n_cols, "height": len(rows)}

    if content[:2] == b"P6":
        w, h, maxval, pos = _parse_ppm_header(content)
        raster = np.frombuffer(content, dtype=np.uint8, count=w * h * 3,
                               offset=pos)
        return raster.reshape(h, w, 3), {"width": w, "height": h}

    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        (audio_fmt, n_ch, rate, _, _, bits), data = _parse_wav_chunks(
            content
        )
        if bits == 16:
            samples = (
                np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
            )
        else:
            samples = (
                np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
            ) / 128.0
        if n_ch > 1:
            samples = samples[: len(samples) // n_ch * n_ch].reshape(
                -1, n_ch
            ).mean(axis=1)
        return samples, {
            "sample_rate": rate,
            "duration_ms": int(len(samples) * 1000 / rate) if rate else 0,
        }

    if content[:10] == b"YUV4MPEG2 ":
        # raw planar video: sample up to max_frames luma planes evenly
        # across the stream (a feature pass must not materialize every
        # pixel of a long clip — the sampled set bounds per-row memory
        # regardless of clip length)
        w, h, num, den, pos, frame_size = _parse_y4m_header(content)
        offsets = _y4m_frame_offsets(content, pos, frame_size)
        if not offsets:
            raise ValueError("y4m stream has no frames")
        max_frames = 8
        step = max(1, -(-len(offsets) // max_frames))  # ceil div
        sampled = offsets[::step]
        frames = np.stack(
            [
                np.frombuffer(content, dtype=np.uint8, count=w * h,
                              offset=off).reshape(h, w)
                for off in sampled
            ]
        )
        return frames, {
            "width": w,
            "height": h,
            "duration_ms": int(len(offsets) * 1000 * den / num),
            "fps": num / den,
            "n_frames": len(offsets),
        }

    raise UnsupportedMediaError(
        f"no codec for this {kind} payload (magic={content[:4]!r}); "
        "JPEG/PNG/MP3/MP4 decode requires libraries not present in this "
        "environment"
    )


def _real_features(kind: str, content: bytes, dim: int):
    """Feature vector from the minimal decoder: images → per-channel
    mean/std + aspect; audio → RMS/peak/zero-crossing-rate/duration;
    tables → rows/cols/numeric-ratio/numeric-mean. Zero-padded/
    truncated to ``dim`` so the schema matches the fake path."""
    samples, meta = _real_decode(kind, content)
    if "n_frames" in meta:  # video: (k, h, w) sampled luma planes
        import numpy as np

        luma = samples.astype("float64") / 255.0
        per_frame_mean = luma.mean(axis=(1, 2))
        motion = (
            float(np.abs(np.diff(luma, axis=0)).mean())
            if len(luma) > 1
            else 0.0
        )
        feats = [
            float(meta["n_frames"]),
            float(meta["fps"]),
            meta["duration_ms"] / 1000.0,
            float(per_frame_mean.mean()),
            float(luma.std()),
            motion,
            meta["width"] / max(meta["height"], 1),
        ]
    elif samples.ndim == 2 and samples.dtype == object:  # table cells
        cells = [c for row in samples for c in row]
        import math

        numeric = []
        for c in cells:
            try:
                v = float(c)
            except (TypeError, ValueError):
                continue
            if math.isfinite(v):  # 'nan'/'inf' cells must not poison
                numeric.append(v)  # the feature vector of an 'ok' row
        feats = [
            float(meta["height"]),  # rows
            float(meta["width"]),   # cols
            len(numeric) / max(len(cells), 1),
            sum(numeric) / len(numeric) if numeric else 0.0,
        ]
    elif samples.ndim == 3:  # image (h, w, 3)
        px = samples.astype("float64") / 255.0
        feats = [
            *px.mean(axis=(0, 1)),
            *px.std(axis=(0, 1)),
            meta["width"] / max(meta["height"], 1),
        ]
    else:  # audio 1-D float
        import numpy as np

        n = max(len(samples), 1)
        feats = [
            float(np.sqrt((samples**2).mean())) if len(samples) else 0.0,
            float(np.abs(samples).max()) if len(samples) else 0.0,
            float((np.diff(np.signbit(samples)) != 0).sum() / n),
            meta["duration_ms"] / 1000.0,
        ]
    feats = [round(float(f), 6) for f in feats[:dim]]
    return feats + [0.0] * (dim - len(feats))


def extract_media_features(
    media: DataFrame, dim: int = 8, fake_decode: bool = True
) -> DataFrame:
    """mapInPandas feature extraction. With fake_decode (default),
    features are a deterministic digest of the bytes (sha256 → dim
    floats in [0,1)) so the distributed plumbing is fully testable
    without codec libs. With fake_decode=False the minimal pure-numpy
    decoder runs (PPM images, PCM WAV audio — see :func:`_real_decode`);
    unsupported containers get decode_status='unsupported' and corrupt
    payloads decode_status='corrupt', each with a null feature — a bad
    row never fails the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, statuses = [], []
            for kind, content in zip(pdf["kind"], pdf["content"]):
                if content is None:
                    feats.append(None)
                    statuses.append("missing")
                    continue
                if not fake_decode:
                    try:
                        feats.append(_real_features(kind, bytes(content), dim))
                        statuses.append("ok")
                    except UnsupportedMediaError:
                        feats.append(None)
                        statuses.append("unsupported")
                    except Exception:  # noqa: BLE001 — corrupt payloads
                        # (truncated raster, bad header int, short fmt
                        # chunk, ...) must degrade per-row like the
                        # unsupported case — one bad asset in a 100-TB
                        # scan must never abort the job
                        feats.append(None)
                        statuses.append("corrupt")
                    continue
                digest = hashlib.sha256(bytes(content)).digest()
                feats.append(
                    [digest[i] / 255.0 for i in range(dim)]
                )
                statuses.append("ok_fake")
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "decode_status": statuses,
                }
            )

    return media.select("media_ref", "kind", "content").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


#: magic-byte → mime sniffing table (first-match wins); covers the
#: decodable containers plus common compressed formats we can at least
#: LABEL even though decode is unsupported in this environment
_MAGIC_MIME: tuple[tuple[bytes, str], ...] = (
    (b"P6", "image/x-portable-pixmap"),
    (b"YUV4MPEG2 ", "video/x-yuv4mpeg"),
    (b"RIFF", "audio/wav"),  # refined to WAVE check below
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG", "image/png"),
    (b"GIF8", "image/gif"),
    (b"ID3", "audio/mpeg"),
    (b"OggS", "audio/ogg"),
)


def probe_media_metadata(media: DataFrame) -> DataFrame:
    """Backfill the typed metadata columns (mime, width, height,
    duration_ms) from the binary content: magic-byte mime sniffing for
    every known container, plus real dimensions/duration for the
    containers the minimal decoder can parse (PPM, PCM WAV). Existing
    non-null metadata is preserved; unknown or corrupt payloads keep
    null metadata with mime 'application/octet-stream' / null. Map-only
    (mapInPandas), per-row degrade — a bad asset never fails the scan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes, widths, heights, durations = [], [], [], []
            for kind, content, mime0, w0, h0, d0 in zip(
                pdf["kind"], pdf["content"], pdf["mime"], pdf["width"],
                pdf["height"], pdf["duration_ms"],
            ):
                # Arrow hands nullable ints to pandas as NaN floats —
                # normalize to None/int before the is-None fill logic
                _nn = lambda x: None if pd.isna(x) else int(x)  # noqa: E731
                mime = None if pd.isna(mime0) else mime0
                w, h, dur = _nn(w0), _nn(h0), _nn(d0)
                if content is not None:
                    b = bytes(content)
                    # header-only probe whenever ANY metadata field is
                    # still null (partial rows get their remaining
                    # nulls filled; pre-set values are never replaced)
                    meta: dict = {}
                    if (
                        w is None or h is None or dur is None
                        or (kind == "table" and mime is None)
                    ):
                        try:
                            meta = _probe_meta(kind, b)
                        except Exception:  # noqa: BLE001 per-row degrade
                            meta = {}
                    if mime is None:
                        if kind == "table":
                            # table payloads are text — a CSV whose
                            # first cell is 'P6'/'RIFF' must not be
                            # magic-sniffed as an image/audio container;
                            # a parseable one is labeled by its decode
                            mime = (
                                "text/csv"
                                if meta
                                else "application/octet-stream"
                            )
                        else:
                            for magic, m in _MAGIC_MIME:
                                if b.startswith(magic):
                                    if (
                                        magic == b"RIFF"
                                        and b[8:12] != b"WAVE"
                                    ):
                                        continue
                                    mime = m
                                    break
                            else:
                                mime = "application/octet-stream"
                    if w is None:
                        w = meta.get("width")
                    if h is None:
                        h = meta.get("height")
                    if dur is None:
                        dur = meta.get("duration_ms")
                mimes.append(mime)
                widths.append(w)
                heights.append(h)
                durations.append(dur)
            out = pdf.copy()
            out["mime"] = mimes
            out["width"] = pd.array(widths, dtype="Int32")
            out["height"] = pd.array(heights, dtype="Int32")
            out["duration_ms"] = pd.array(durations, dtype="Int32")
            yield out

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN (timestamps only — decode stubbed):
    one row per sampled frame, JVM-side sequence expansion."""
    return media.where(F.col("kind") == "video").select(
        "media_ref",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("std_luma", T.DoubleType()),
        T.StructField("decode_status", T.StringType()),
    ]
)


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL frame sampling over uncompressed y4m video blobs: one output
    row per sampled frame (nearest frame at each ``every_ms`` tick) with
    per-frame luma statistics. Map-only ``mapInPandas`` — each row
    decodes only the frames it emits (offset arithmetic skips the rest),
    so a long clip costs O(sampled frames), not O(all pixels). Per-row
    degrade like the other decoders: non-y4m video payloads emit a
    single row with decode_status 'unsupported'/'corrupt'/'missing' and
    null frame columns — a bad asset never fails the scan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows: list[tuple] = []
            for ref, kind, content in zip(
                pdf["media_ref"], pdf["kind"], pdf["content"]
            ):
                if kind != "video":
                    continue
                if content is None:
                    rows.append((ref, None, None, None, None, "missing"))
                    continue
                b = bytes(content)
                try:
                    if b[:10] != b"YUV4MPEG2 ":
                        raise UnsupportedMediaError("not a y4m payload")
                    w, h, num, den, pos, frame_size = _parse_y4m_header(b)
                    offsets = _y4m_frame_offsets(b, pos, frame_size)
                    if not offsets:
                        raise ValueError("y4m stream has no frames")
                    ms_per_frame = 1000.0 * den / num
                    duration_ms = int(len(offsets) * ms_per_frame)
                    picked: list[int] = []
                    for ts in range(0, max(duration_ms, 1), every_ms):
                        idx = min(int(ts / ms_per_frame), len(offsets) - 1)
                        if not picked or idx != picked[-1]:
                            picked.append(idx)
                    for idx in picked:
                        luma = np.frombuffer(
                            b, dtype=np.uint8, count=w * h,
                            offset=offsets[idx],
                        ).astype("float64") / 255.0
                        rows.append((
                            ref, idx, int(idx * ms_per_frame),
                            round(float(luma.mean()), 6),
                            round(float(luma.std()), 6),
                            "ok",
                        ))
                except UnsupportedMediaError:
                    rows.append((ref, None, None, None, None, "unsupported"))
                except Exception:  # noqa: BLE001 — corrupt payloads
                    rows.append((ref, None, None, None, None, "corrupt"))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "frame_idx", "frame_ts_ms",
                    "mean_luma", "std_luma", "decode_status",
                ],
            ).astype(
                {"frame_idx": "Int32", "frame_ts_ms": "Int32"}
            )

    return media.select("media_ref", "kind", "content").mapInPandas(
        run, schema=FRAME_SCHEMA
    )
