"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side machinery (schemas, partition-friendly batch shapes,
mapInPandas signatures) is real and tested. The decoders in
``MEDIA_DECODERS`` parse container metadata without sample decode: the
VIDEO path walks MP4/MOV (ISO-BMFF box tree) and the AUDIO path walks
MP3 frame headers — dimensions, duration, bitrate, frame/track counts.
Every other payload, and every image, gets a deterministic sha256 fake
of the same shape. Swapping a fake for a real decoder (PIL/ffmpeg)
changes no Spark code.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as Ty

MEDIA_SCHEMA = Ty.StructType([
    Ty.StructField("media_id", Ty.LongType(), False),
    Ty.StructField("kind", Ty.StringType(), False),  # image | audio | video
    Ty.StructField("mime", Ty.StringType(), True),
    Ty.StructField("payload", Ty.BinaryType(), True),
    Ty.StructField("meta", Ty.MapType(Ty.StringType(), Ty.StringType()), True),
])

FEATURE_SCHEMA = Ty.StructType([
    Ty.StructField("media_id", Ty.LongType(), False),
    Ty.StructField("kind", Ty.StringType(), False),
    Ty.StructField("n_bytes", Ty.IntegerType(), True),
    Ty.StructField("digest", Ty.StringType(), True),
    Ty.StructField("feature", Ty.ArrayType(Ty.FloatType()), True),
])


def _decode_image(payload: bytes) -> list[float]:
    """Image feature vector: a deterministic sha256 fake (no image codec
    is decoded here — swapping in PIL changes no Spark code). 8 dims, so
    the Spark schema/batch shape is payload-independent."""
    d = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in d[:8]]


# MPEG-1/2/2.5 Layer III tables (index → kbps / Hz); index 0 and 15 of
# the bitrate table are free-format/forbidden — treated as not-an-MP3
_MP3_BITRATE = {
    1: [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
        160, 192, 224, 256, 320, 0],
    2: [0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
        96, 112, 128, 144, 160, 0],
}
_MP3_RATE = {1: [44100, 48000, 32000], 2: [22050, 24000, 16000],
             25: [11025, 12000, 8000]}


def _mp3_frame(payload: bytes, off: int) -> tuple[int, int, int] | None:
    """Parse one Layer-III frame header at ``off``; returns
    (frame_length, samplerate, bitrate_kbps) or None."""
    if off + 4 > len(payload):
        return None
    h = int.from_bytes(payload[off:off + 4], "big")
    if h >> 21 != 0x7FF:
        return None
    version_bits = (h >> 19) & 3   # 0=2.5, 2=MPEG2, 3=MPEG1
    layer_bits = (h >> 17) & 3     # 1 = Layer III
    if version_bits == 1 or layer_bits != 1:
        return None
    version = {0: 25, 2: 2, 3: 1}[version_bits]
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if sr_idx == 3:
        return None
    bitrate = _MP3_BITRATE[1 if version == 1 else 2][br_idx]
    if bitrate == 0:
        return None
    rate = _MP3_RATE[version][sr_idx]
    padding = (h >> 9) & 1
    coef = 144 if version == 1 else 72  # bytes-per-bit-per-Hz, Layer III
    return coef * bitrate * 1000 // rate + padding, rate, bitrate


def build_mp3(n_frames: int, bitrate_idx: int = 9,
              samplerate_idx: int = 0) -> bytes:
    """Assemble a valid CBR MPEG-1 Layer III frame sequence (headers +
    zero payload) behind an ID3v2 tag — the deterministic audio-fixture
    generator, invertible by :func:`parse_mp3`."""
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
        | (bitrate_idx << 12) | (samplerate_idx << 10)
    header = h.to_bytes(4, "big")
    flen = (144 * _MP3_BITRATE[1][bitrate_idx] * 1000
            // _MP3_RATE[1][samplerate_idx])
    return id3 + (header + b"\x00" * (flen - 4)) * n_frames


def parse_mp3(payload: bytes) -> dict | None:
    """REAL MP3 (MPEG Layer III) frame-header parse, pure stdlib: skips
    a leading ID3v2 tag (syncsafe size), syncs on the first valid frame
    header, then walks CBR/VBR frames by their computed lengths. At
    least two consecutive valid frames are required — a lone sync
    pattern in random bytes parses as noise, not audio. No sample
    decode (needs the codec); returns {rate, bitrate_kbps, n_frames,
    duration_s, channels}."""
    n = len(payload)
    off = 0
    if payload[:3] == b"ID3" and n >= 10:
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        off = 10 + size
    first = _mp3_frame(payload, off)
    if first is None:
        return None
    h = int.from_bytes(payload[off:off + 4], "big")
    channels = 1 if (h >> 6) & 3 == 3 else 2
    version_bits = (h >> 19) & 3
    samples_per_frame = 1152 if version_bits == 3 else 576
    frames, rate, kbps_sum = 0, first[1], 0
    while True:
        got = _mp3_frame(payload, off)
        if got is None or got[1] != rate:
            break
        frames += 1
        kbps_sum += got[2]
        off += got[0]
    if frames < 2:
        return None
    return {
        "rate": rate,
        "bitrate_kbps": kbps_sum // frames,  # mean — exact for CBR
        "n_frames": frames,
        "duration_s": frames * samples_per_frame / rate,
        "channels": channels,
    }


def _decode_audio(payload: bytes) -> list[float]:
    """Audio feature vector: REAL frame-header parse for MP3 (rate,
    duration, bitrate — samples not decoded, flagged by the 0.5 marker
    in dim 3); deterministic sha256 fake otherwise. 4 dims either way —
    payload-independent batch shape."""
    mp3 = parse_mp3(payload)
    if mp3 is not None:
        return [
            min(mp3["rate"] / 96000.0, 1.0),
            min(mp3["duration_s"] / 60.0, 1.0),
            min(mp3["bitrate_kbps"] / 320.0, 1.0),
            0.5,  # "frame metadata real, samples not decoded"
        ]
    d = hashlib.sha256(b"audio:" + payload).digest()
    return [b / 255.0 for b in d[:4]]


def build_mp4(width: int, height: int, n_frames: int,
              timescale: int = 1000, frame_delta: int = 40,
              brand: bytes = b"isom") -> bytes:
    """Assemble a minimal but structurally valid ISO-BMFF container
    (ftyp + moov[mvhd + video trak[tkhd + mdia[hdlr + minf/stbl/stts]]]
    + mdat) — the deterministic fixture generator for the video path,
    byte-exactly invertible by :func:`parse_mp4`."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def full(btype: bytes, payload: bytes) -> bytes:
        return box(btype, b"\x00\x00\x00\x00" + payload)

    duration = n_frames * frame_delta
    ftyp = box(b"ftyp", brand + struct.pack(">I", 512) + b"isomiso2")
    mvhd = full(b"mvhd", struct.pack(
        ">IIII", 0, 0, timescale, duration) + b"\x00" * 80)
    tkhd = full(b"tkhd", struct.pack(">III", 0, 0, 1) + b"\x00" * 4
                + struct.pack(">I", duration) + b"\x00" * 8
                + struct.pack(">hhhh", 0, 0, 0, 0) + b"\x00" * 36
                + struct.pack(">II", width << 16, height << 16))
    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 13)
    stts = full(b"stts", struct.pack(">I", 1)
                + struct.pack(">II", n_frames, frame_delta))
    mdia = box(b"mdia", hdlr + box(b"minf", box(b"stbl", stts)))
    moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
    return ftyp + moov + box(b"mdat", b"\x00" * 16)


def parse_mp4(payload: bytes) -> dict | None:
    """REAL ISO-BMFF (MP4/MOV) container-metadata parse, pure stdlib.

    Walks the length-prefixed box tree: ``ftyp`` (brand), ``moov/mvhd``
    (timescale+duration), per-``trak`` ``tkhd`` (16.16-fixed w/h) and
    ``mdia/hdlr`` (handler — counts video tracks), and the video trak's
    ``stbl/stts`` (sample count = frame count). No pixel decode — sample
    DATA needs the codec (H.264 etc.), which this container lacks; the
    structural metadata is what a catalog/stats pass needs anyway.

    Returns ``{width, height, n_frames, duration_s, n_tracks,
    n_video_tracks, brand}`` or None if the payload is not BMFF.
    """
    n = len(payload)
    if n < 16 or payload[4:8] != b"ftyp":
        return None

    def boxes(lo: int, hi: int):
        off = lo
        while off + 8 <= hi:
            size = int.from_bytes(payload[off:off + 4], "big")
            btype = payload[off + 4:off + 8]
            body = off + 8
            if size == 1:
                if off + 16 > hi:
                    return
                size = int.from_bytes(payload[off + 8:off + 16], "big")
                body = off + 16
            elif size == 0:
                size = hi - off
            if size < 8 or off + size > hi:
                return  # truncated/corrupt: stop, keep what we have
            yield btype, body, off + size
            off += size

    out = {"width": 0, "height": 0, "n_frames": 0, "duration_s": 0.0,
           "n_tracks": 0, "n_video_tracks": 0,
           "brand": payload[8:12].decode("latin-1")}

    def full_box(body: int) -> tuple[int, int]:
        # (version, first-field offset) of a "full box" header
        return payload[body], body + 4

    def walk_trak(lo: int, hi: int) -> None:
        out["n_tracks"] += 1
        is_video, frames, w, h = False, 0, 0, 0
        for t, b, e in boxes(lo, hi):
            if t == b"tkhd" and e - b >= 4:
                ver, p = full_box(b)
                # skip ids/times/reserved/matrix to the 16.16 w/h pair
                p += (32 if ver == 1 else 20) + 8 + 2 + 2 + 2 + 2 + 36
                if p + 8 <= e:
                    w = int.from_bytes(payload[p:p + 4], "big") >> 16
                    h = int.from_bytes(payload[p + 4:p + 8], "big") >> 16
            elif t == b"mdia":
                for t2, b2, e2 in boxes(b, e):
                    if t2 == b"hdlr" and e2 - b2 >= 12:
                        is_video = payload[b2 + 8:b2 + 12] == b"vide"
                    elif t2 == b"minf":
                        for t3, b3, e3 in boxes(b2, e2):
                            if t3 != b"stbl":
                                continue
                            for t4, b4, e4 in boxes(b3, e3):
                                # size guard like tkhd/mvhd: an empty-
                                # payload stts box ending at end-of-
                                # payload would make full_box index one
                                # past the buffer (IndexError on a
                                # malformed upload instead of the
                                # documented fallback)
                                if t4 == b"stts" and e4 - b4 >= 8:
                                    _, p = full_box(b4)
                                    cnt = int.from_bytes(
                                        payload[p:p + 4], "big")
                                    p += 4
                                    for _i in range(cnt):
                                        if p + 8 > e4:
                                            break
                                        frames += int.from_bytes(
                                            payload[p:p + 4], "big")
                                        p += 8
        if is_video:
            out["n_video_tracks"] += 1
            # all fields come from ONE chosen track (the video track
            # with the most frames; earlier tracks win ties) — the old
            # per-field mixing could report one track's frame count
            # with another's dimensions on multi-video-track files
            if frames > out["n_frames"]:
                out["n_frames"] = frames
                if w and h:
                    out["width"], out["height"] = w, h
            elif not out["n_frames"] and w and h and not out["width"]:
                # no track has frame data yet: first track with
                # dimensions provides them
                out["width"], out["height"] = w, h

    seen_moov = False
    for t, b, e in boxes(0, n):
        if t != b"moov":
            continue
        seen_moov = True
        for t2, b2, e2 in boxes(b, e):
            if t2 == b"mvhd" and e2 - b2 >= 4:
                ver, p = full_box(b2)
                if ver == 1:
                    ts = int.from_bytes(payload[p + 16:p + 20], "big")
                    dur = int.from_bytes(payload[p + 20:p + 28], "big")
                else:
                    ts = int.from_bytes(payload[p + 8:p + 12], "big")
                    dur = int.from_bytes(payload[p + 12:p + 16], "big")
                if ts:
                    out["duration_s"] = dur / ts
            elif t2 == b"trak":
                walk_trak(b2, e2)
    return out if seen_moov else None


def _decode_video(payload: bytes) -> list[float]:
    """Video feature vector: REAL container-metadata parse for MP4/MOV
    (box tree) — dimensions, frame/track counts, duration, flagged by a
    0.5 marker in dim 5 since pixel content is NOT decoded (sample data
    needs the codec; swapping in ffmpeg changes no Spark code);
    deterministic sha256 fake otherwise. 6 dims either way —
    payload-independent batch shape."""
    meta = parse_mp4(payload)
    if meta is not None:
        return [
            min(meta["width"] / 65535.0, 1.0),
            min(meta["height"] / 65535.0, 1.0),
            min(meta["n_frames"] / 65535.0, 1.0),
            min(meta["duration_s"] / 3600.0, 1.0),
            min(meta["n_tracks"] / 16.0, 1.0),
            0.5,  # "container metadata real, pixels not decoded"
        ]
    d = hashlib.sha256(b"video:" + payload).digest()
    return [b / 255.0 for b in d[:6]]


MEDIA_DECODERS = {
    "image": _decode_image,  # hash fake
    "audio": _decode_audio,  # REAL MP3 frame-header parse
    "video": _decode_video,  # REAL MP4 metadata parse
}


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads. The payload
    column stays off the shuffle: output carries only small features."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                if payload is None:
                    rows.append((int(mid), kind, None, None, None))
                    continue
                payload = bytes(payload)
                dec = MEDIA_DECODERS.get(kind)
                feat = dec(payload) if dec else None
                rows.append((
                    int(mid), kind, len(payload),
                    hashlib.sha256(payload).hexdigest(), feat,
                ))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "n_bytes", "digest", "feature"]
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


RESIZE_SCHEMA = Ty.StructType([
    Ty.StructField("media_id", Ty.LongType(), False),
    Ty.StructField("kind", Ty.StringType(), False),
    Ty.StructField("src_w", Ty.IntegerType(), False),
    Ty.StructField("src_h", Ty.IntegerType(), False),
    Ty.StructField("pixels", Ty.ArrayType(Ty.DoubleType()), False),
    Ty.StructField("decoded", Ty.BooleanType(), False),
])


def _thumbnail(payload: bytes, out_h: int, out_w: int) -> list[float]:
    """A deterministic sha256-derived stand-in thumbnail: ``out_h·out_w·3``
    floats, digest bytes cycled — no image codec is decoded here, the
    extract_features convention."""
    d = hashlib.sha256(payload).digest()
    return [d[i % 32] / 255.0 for i in range(out_h * out_w * 3)]


def resize_images(
    media: DataFrame, out_h: int = 8, out_w: int = 8
) -> DataFrame:
    """Arrow-batched thumbnail resize over binary payloads — the
    'resize' leg of the multimodal plumbing (decode / feature-extract /
    resize / frame-sample). Same scale shape as
    :func:`extract_features`: the payload never crosses a shuffle, the
    output is a fixed ``out_h·out_w·3`` vector per row, and swapping
    the stand-in thumbnail for a PIL resample changes no Spark code.
    ``src_w/src_h`` are ``-1`` and ``decoded`` is False on every row
    (the columns are non-nullable)."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                    pdf["media_id"], pdf["kind"], pdf["payload"]):
                if payload is None:
                    rows.append((int(mid), kind, -1, -1, [], False))
                    continue
                rows.append((int(mid), kind, -1, -1,
                             _thumbnail(bytes(payload), out_h, out_w),
                             False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "src_w", "src_h",
                         "pixels", "decoded"])

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, schema=RESIZE_SCHEMA)


def synthetic_media(spark, n: int = 50, seed: int = 42) -> DataFrame:
    """Deterministic fixture media table."""
    import random

    rng = random.Random(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes(rng.randrange(256) for _ in range(64 + (i % 5) * 16))
        rows.append((i, kind, f"application/x-fixture-{kind}", payload,
                     {"w": str(64 + i), "h": str(48 + i)} if kind == "image" else {}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
