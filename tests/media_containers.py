"""Minimal FLAC, MP3, Ogg, Matroska/WebM and AVI byte streams for the
container-parser tests of ``pprl_spark.spark.multimodal``: each carries
only the header fields the parsers read."""

from __future__ import annotations

import struct

from pprl_spark.spark.multimodal import _MP3_BITRATE_V1_L3, _MP3_BITRATE_V2_L3, _MP3_RATES

def make_flac_bytes(
    sample_rate: int, n_channels: int, bits_per_sample: int,
    total_samples: int,
) -> bytes:
    """Minimal FLAC stream: ``fLaC`` magic + a last-metadata-block
    STREAMINFO (34 bytes) carrying the packed rate/channels/bits/total
    fields.  No audio frames — the metadata tier is what the parser
    reads."""
    v = (
        (sample_rate << 44)
        | ((n_channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    streaminfo = (
        (4096).to_bytes(2, "big") * 2     # min/max blocksize
        + b"\x00\x00\x00" * 2             # min/max framesize (unknown)
        + v.to_bytes(8, "big")
        + b"\x00" * 16                    # MD5 of unencoded audio (unset)
    )
    return b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo


def make_mp3_bytes(
    n_mpeg_frames: int, version: int = 3, bitrate_idx: int = 9,
    samplerate_idx: int = 0, mono: bool = False,
) -> bytes:
    """MPEG Layer III stream of ``n_mpeg_frames`` silent frames behind an
    ID3v2 tag: every frame carries a real, self-consistent header
    (version 3=MPEG1/2=MPEG2/0=MPEG2.5) and zero-filled audio data, so a
    frame-walking parser must hop frame lengths exactly.  Alternating
    padding bits exercise the +1 length rule."""
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
    div = 1 if version == 3 else (2 if version == 2 else 4)
    rate = _MP3_RATES[samplerate_idx] // div
    kbps = (_MP3_BITRATE_V1_L3 if version == 3 else _MP3_BITRATE_V2_L3)[
        bitrate_idx
    ]
    spf = 1152 if version == 3 else 576
    out = bytearray(id3)
    for i in range(n_mpeg_frames):
        padding = i & 1
        frame_len = spf * kbps * 1000 // 8 // rate + padding
        b1 = 0xE0 | (version << 3) | (1 << 1) | 1  # sync|ver|layerIII|nocrc
        b2 = (bitrate_idx << 4) | (samplerate_idx << 2) | (padding << 1)
        b3 = 0xC0 if mono else 0x00  # channel mode
        hdr = bytes([0xFF, b1, b2, b3])
        out += hdr + b"\x00" * (frame_len - 4)
    return bytes(out)


def _ogg_page(
    serial: int, seq: int, granule: int, header_type: int, body: bytes
) -> bytes:
    segs = []
    rest = len(body)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)
    page = (
        b"OggS\x00" + bytes([header_type])
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00"  # CRC placeholder
        + bytes([len(segs)]) + bytes(segs) + body
    )
    # Ogg CRC32: polynomial 0x04C11DB7, init 0, no reflection — differs
    # from zlib's; a pure-python table walk is fine at fixture scale
    crc = 0
    for byte in page:
        crc ^= byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if crc & 0x80000000 else (crc << 1) & 0xFFFFFFFF
    return page[:22] + struct.pack("<I", crc) + page[26:]


def make_ogg_bytes(
    codec: str, sample_rate: int, n_channels: int, total_samples: int,
    pre_skip: int = 312,
) -> bytes:
    """Minimal Ogg stream: a BOS page carrying the codec id header
    (Vorbis or Opus) and an EOS page whose granule position encodes the
    stream's total PCM samples (Opus granules run at 48 kHz and include
    pre-skip)."""
    if codec == "vorbis":
        idhdr = (
            b"\x01vorbis" + struct.pack("<IB", 0, n_channels)
            + struct.pack("<I", sample_rate) + struct.pack("<iii", -1, 128000, -1)
            + b"\xb8\x01"
        )
        granule = total_samples
    elif codec == "opus":
        idhdr = (
            b"OpusHead\x01" + bytes([n_channels])
            + struct.pack("<H", pre_skip) + struct.pack("<I", sample_rate)
            + struct.pack("<hB", 0, 0)
        )
        granule = total_samples + pre_skip  # granules include pre-skip
    else:
        raise ValueError(codec)
    return (
        _ogg_page(0x1234, 0, 0, 0x02, idhdr)
        + _ogg_page(0x1234, 1, granule, 0x04, b"")
    )


def _ebml_elem(eid: int, body: bytes) -> bytes:
    """EBML element: raw ID bytes + minimal-width size VINT + body."""
    ebid = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(body)
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:  # all-ones means 'unknown size'
            size = (n | (1 << (7 * width))).to_bytes(width, "big")
            break
    return ebid + size + body


def make_mkv_bytes(
    width: int, height: int, duration_units: float,
    timestamp_scale: int = 1_000_000, webm: bool = False,
) -> bytes:
    """Minimal Matroska/WebM tree: EBML header (DocType) + Segment
    (Info(TimestampScale, Duration-float) + Tracks(TrackEntry(Video(
    PixelWidth, PixelHeight))))."""
    doctype = b"webm" if webm else b"matroska"
    ebml = _ebml_elem(0x1A45DFA3, _ebml_elem(0x4282, doctype))
    info = _ebml_elem(
        0x1549A966,
        _ebml_elem(0x2AD7B1, timestamp_scale.to_bytes(4, "big"))
        + _ebml_elem(0x4489, struct.pack(">d", duration_units)),
    )
    video = _ebml_elem(
        0xE0,
        _ebml_elem(0xB0, width.to_bytes(2, "big"))
        + _ebml_elem(0xBA, height.to_bytes(2, "big")),
    )
    tracks = _ebml_elem(0x1654AE6B, _ebml_elem(0xAE, video))
    return ebml + _ebml_elem(0x18538067, info + tracks)


def make_avi_bytes(
    width: int, height: int, total_frames: int, usec_per_frame: int,
) -> bytes:
    """Minimal AVI RIFF tree: LIST hdrl with the 56-byte avih main
    header (frame timing, counts, dimensions)."""
    avih_body = struct.pack(
        "<14I", usec_per_frame, 0, 0, 0x10, total_frames, 0, 1, 0,
        width, height, 0, 0, 0, 0,
    )
    avih = b"avih" + struct.pack("<I", len(avih_body)) + avih_body
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih)) + b"hdrl" + avih
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl
