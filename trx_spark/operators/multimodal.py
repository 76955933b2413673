"""Multimodal (image/audio/video) column plumbing.

Binary payloads travel as opaque ``binary`` columns with typed metadata
structs; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages. The reference's detector format
(EDF, read there via fabio, trx/azav.py:29-47) is decoded for REAL by a
pure-numpy codec (:func:`decode_edf` — the public ESRF format is an
ASCII header + raw pixel block, no library needed), as are CBF, TIFF,
mar345, MarCCD, Bruker SFRM, ADSC SMV, and — for the web-corpus leg —
PNG (:func:`decode_png`: zlib inflate + per-scanline unfilter, both
sequential and Adam7-interlaced) and JPEG (:func:`decode_jpeg`:
Huffman + dequant + exact 8x8 IDCT + BT.601, pure numpy per ITU-T
T.81 — baseline AND progressive/SOF2 incl. successive
approximation). Every image format is
decoded for real; only compressed audio (mp3/ogg, which genuinely
needs ffmpeg) keeps the deterministic fake (``codec="fake"``, seeded
by content hash) with the real schema, partitioning and batch shape.

Scale design: ``spark.read.format("binaryFile")`` gives (path, content)
with pushdown on path globs; one input row fans out to H·W pixel rows
inside mapInPandas (no driver involvement, no shuffle); downstream is
the integrate_1d groupBy.

One decoder per format: the module-level ``decode_*`` functions are
the only codecs. The mapInPandas kernels (:func:`decode_image`,
:func:`decode_video`, :func:`image_census`,
:func:`audio_frame_features`) import them on the worker, and each
kernel builder first ships the package to the executors
(:func:`~trx_spark.sources.imageds.ensure_executor_package`), so the
workers resolve ``trx_spark`` from any driver cwd.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PIXEL_SCHEMA = "file string, frame int, y int, x int, intensity double"
IMAGE_META_SCHEMA = (
    "path string, modality string, n_bytes long, content_sha256 string"
)

# ---------------------------------------------------------------------
# EDF codec (ESRF Data Format — the reference's detector-image format,
# read there via fabio, trx/azav.py:29-34). The format is public and
# simple: an ASCII '{ key = value ; ... }' header padded with spaces to
# a 512-byte multiple, then the raw pixel block — decodable with pure
# numpy, no external codec library.
# ---------------------------------------------------------------------

_EDF_DTYPES = {
    "UnsignedByte": "u1",
    "SignedByte": "i1",
    "UnsignedShort": "u2",
    "SignedShort": "i2",
    "UnsignedInteger": "u4",
    "SignedInteger": "i4",
    "UnsignedLong": "u4",
    "SignedLong": "i4",
    "Float": "f4",
    "FloatValue": "f4",
    "DoubleValue": "f8",
}


def decode_edf_frames(buf: bytes) -> list[tuple[np.ndarray, dict]]:
    """Decode an EDF blob → [(2-D array, header dict), ...] — one entry
    per frame. Multi-frame EDF files (the reference stacks them 3-D,
    trx/azav.py:42-46) are successive header+payload blocks; the next
    frame's ``{`` follows the previous payload.

    Header fields honored: Dim_1 (fast axis / columns), Dim_2 (rows),
    DataType, ByteOrder (LowByteFirst | HighByteFirst). Each pixel block
    starts right after the ``}\\n`` terminator of its (space-padded)
    header."""
    frames: list[tuple[np.ndarray, dict]] = []
    pos = 0
    n_buf = len(buf)
    while pos < n_buf:
        while pos < n_buf and buf[pos : pos + 1] in (b" ", b"\r", b"\n", b"\t", b"\x00"):
            pos += 1
        if pos >= n_buf or buf[pos : pos + 1] != b"{":
            break
        end = buf.index(b"}", pos)
        header = buf[pos : end + 1].decode("ascii", "replace")
        fields: dict[str, str] = {}
        for line in header.strip("{} \r\n").split(";"):
            if "=" in line:
                k, v = line.split("=", 1)
                fields[k.strip()] = v.strip()
        nx, ny = int(fields["Dim_1"]), int(fields["Dim_2"])
        dt = np.dtype(_EDF_DTYPES[fields.get("DataType", "UnsignedShort")])
        order = "<" if fields.get("ByteOrder", "LowByteFirst") == "LowByteFirst" else ">"
        dt = dt.newbyteorder(order)
        start = buf.index(b"}\n", pos) + 2
        img = np.frombuffer(buf, dtype=dt, count=nx * ny, offset=start)
        frames.append((img.reshape(ny, nx), fields))
        pos = start + nx * ny * dt.itemsize
    if not frames:
        raise ValueError("no EDF frame found")
    return frames


def decode_edf(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode the FIRST frame of an EDF blob → (2-D array, header dict)
    (see :func:`decode_edf_frames` for the full stack)."""
    return decode_edf_frames(buf)[0]


def encode_edf(
    img: np.ndarray, *, byte_order: str = "LowByteFirst", extra: dict | None = None
) -> bytes:
    """Encode a 2-D array as a spec-compliant EDF blob (512-byte-padded
    header). Used by tests and as the write side of the S1 seam."""
    inv = {v: k for k, v in _EDF_DTYPES.items()}
    kind = img.dtype.newbyteorder("=").str[1:]
    if kind not in inv:
        raise ValueError(f"unsupported dtype {img.dtype}")
    order = "<" if byte_order == "LowByteFirst" else ">"
    payload = img.astype(img.dtype.newbyteorder(order), copy=False).tobytes()
    fields = {
        "HeaderID": "EH:000001:000000:000000",
        "Image": "1",
        "ByteOrder": byte_order,
        "DataType": inv[kind],
        "Dim_1": str(img.shape[1]),
        "Dim_2": str(img.shape[0]),
        "Size": str(len(payload)),
        **(extra or {}),
    }
    body = "{\n" + "".join(f"{k} = {v} ;\n" for k, v in fields.items())
    # pad with spaces so the header (incl. the closing '}\n') is a
    # multiple of 512 bytes, per the EDF spec
    total = len(body) + 2
    pad = (-total) % 512
    header = body + " " * pad + "}\n"
    return header.encode("ascii") + payload


def encode_edf_stack(imgs: list[np.ndarray], **kw) -> bytes:
    """Concatenate per-frame EDF blocks (``Image = k`` headers) — the
    write side of the multi-frame seam and the tests' golden producer."""
    extra = kw.pop("extra", {})
    return b"".join(
        encode_edf(img, extra={"Image": str(k + 1), **extra}, **kw)
        for k, img in enumerate(imgs)
    )


_GZIP_MAGIC = b"\x1f\x8b"


def maybe_gunzip(buf: bytes) -> bytes:
    """Transparent gzip: the reference's default glob is ``*.edf*`` and
    fabio decompresses ``.edf.gz`` on the fly (trx/utils/files.py:14-21,
    azav.py:29-34; its bundled calibrants ship gzipped). Mirror via the
    gzip magic bytes rather than the extension."""
    if buf[:2] == _GZIP_MAGIC:
        import gzip

        return gzip.decompress(buf)
    return buf


def sniff_codec(buf: bytes) -> str:
    """Magic-byte format detection across the real codecs (fabio's
    auto-detection role). Gzip wrapping is NOT unwrapped here — callers
    gunzip first (:func:`maybe_gunzip`) so sniff sees the payload."""
    if buf[:2] == _GZIP_MAGIC:
        return "gzip"
    if buf[:8] == _PNG_MAGIC:
        return "png"
    if buf[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        return "avi"
    if buf[:2] in (b"II", b"MM"):
        # MarCCD is a TIFF container distinguished by the frame-header
        # name tag at the canonical 1024+4 offset (fabio's detection)
        if (
            len(buf) > _MARCCD_DATA_OFFSET
            and buf[_MARCCD_NAME_OFFSET : _MARCCD_NAME_OFFSET + 6] == b"MarCCD"
        ):
            return "marccd"
        return "tiff"
    if buf[:7] == b"FORMAT " and buf[7:8] == b":":
        return "bruker"
    if buf[:6] == b"###CBF":
        return "cbf"
    # mar345: 32-bit byte-order sentinel 1234 in either endianness
    if len(buf) >= 4 and (
        int.from_bytes(buf[:4], "little") == _MAR345_SENTINEL
        or int.from_bytes(buf[:4], "big") == _MAR345_SENTINEL
    ):
        return "mar345"
    # EDF's brace test comes BEFORE the unbounded CBF-section search:
    # a CIF-wrapped CBF never starts with '{', and the cheap prefix
    # test saves an O(filesize) scan per EDF asset in the auto path.
    # ADSC SMV shares the '{' opener — discriminated by its mandatory
    # HEADER_BYTES key (by convention the first header line; EDF has
    # no such key)
    if buf.lstrip()[:1] == b"{":
        return "adsc" if b"HEADER_BYTES" in buf[:512] else "edf"
    # full CIF-wrapped CBF: a 'data_<block>' preamble can carry
    # kilobytes of CIF tags before the binary section — search the
    # whole buffer, not a prefix
    if _CBF_SECTION in buf:
        return "cbf"
    raise ValueError("unrecognized image format (auto codec)")


def _image_codec(fmt: str):
    """The module decoder of one still-image format (``None`` for a
    frame container or an unknown name)."""
    return {
        "edf": decode_edf,
        "cbf": decode_cbf,
        "tiff": decode_tiff,
        "mar345": decode_mar345,
        "marccd": decode_marccd,
        "bruker": decode_bruker,
        "adsc": decode_adsc,
        "png": decode_png,
        "jpeg": decode_jpeg,
    }.get(fmt)


def decode_any(buf: bytes) -> tuple[np.ndarray, dict]:
    """gunzip-if-needed + sniff + dispatch → (first frame, header)."""
    buf = maybe_gunzip(buf)
    fmt = sniff_codec(buf)
    if fmt == "avi":
        frames, hdr = decode_avi_frames(buf)
        img, _ = decode_jpeg(frames[0])
        return img, hdr
    decode = _image_codec(fmt)
    if decode is None:  # still gzip after one gunzip
        raise ValueError("unrecognized image format (auto codec)")
    img, hdr = decode(buf)
    if fmt == "tiff":
        hdr = {str(k): v for k, v in hdr.items()}
    return img, hdr


def decode_frames(buf: bytes, codec: str = "auto") -> list[np.ndarray]:
    """gunzip-if-needed + sniff (``codec="auto"``) + decode → the
    float64 intensity frames of one image blob: every frame of an EDF
    stack, else the one frame, color reduced to its integer Rec.601
    luma (:func:`png_luma`). The single dispatch behind
    :func:`decode_image`'s kernel and the ``detector_image`` reader; a
    frame container (AVI, see :func:`decode_video`) or a payload still
    gzipped after one gunzip is not an image here."""
    buf = maybe_gunzip(buf)
    fmt = sniff_codec(buf) if codec == "auto" else codec
    if fmt == "edf":
        return [img.astype(float) for img, _hdr in decode_edf_frames(buf)]
    decode = _image_codec(fmt)
    if decode is None:
        raise ValueError(f"unrecognized image format ({codec} codec)")
    return [png_luma(decode(buf)[0]).astype(float)]


# ---------------------------------------------------------------------
# CBF codec (imgCIF / Crystallographic Binary File — the reference's
# fabio path reads CBF alongside EDF, trx/azav.py:29-47). The format is
# public (imgCIF/CBFlib spec, Bernstein & Hammersley): a CIF text
# preamble, a MIME-style binary-section header, the 4-byte marker
# 0x0C 0x1A 0x04 0xD5, then the "byte_offset" stream — 1-byte signed
# deltas with widening escapes (0x80 → int16 payload; int16 sentinel
# -32768 → int32; int32 sentinel -2^31 → int64) cumulatively summed to
# pixel values. Decode is numpy-vectorized per escape segment: the
# common case (photon-count images, tiny deltas) is one int8 view +
# cumsum; cost is O(#escapes) python steps.
# ---------------------------------------------------------------------

_CBF_MAGIC = b"\x0c\x1a\x04\xd5"
_CBF_SECTION = b"--CIF-BINARY-FORMAT-SECTION--"

_CBF_ELEM_TYPES = {
    '"signed 16-bit integer"': "i2",
    '"unsigned 16-bit integer"': "u2",
    '"signed 32-bit integer"': "i4",
    '"unsigned 32-bit integer"': "u4",
    '"signed 64-bit integer"': "i8",
}


def _byte_offset_unpack(raw: bytes, n: int) -> np.ndarray:
    """byte_offset stream → int64 pixel vector of length ``n``."""
    buf = np.frombuffer(raw, dtype=np.uint8)
    deltas = np.empty(n, dtype=np.int64)
    # all candidate escape-marker positions computed ONCE; markers
    # consumed inside escape payloads are skipped by searchsorted, so
    # each escape costs O(log m) instead of a full O(n) rescan (the
    # rescan made escape-dense images effectively quadratic)
    marks = np.flatnonzero(buf == 0x80)
    i = 0  # byte cursor
    k = 0  # pixel cursor
    while k < n:
        m = int(np.searchsorted(marks, i))
        nxt = int(marks[m]) if m < marks.size else buf.size
        j = min(nxt - i, n - k)
        if j:
            # run of plain 1-byte deltas up to the next escape marker
            deltas[k : k + j] = buf[i : i + j].view(np.int8)
            i += j
            k += j
            if k >= n:
                break
        # widening escape at buf[i]
        v = int(np.frombuffer(raw, dtype="<i2", count=1, offset=i + 1)[0])
        i += 3
        if v == -32768:
            v = int(np.frombuffer(raw, dtype="<i4", count=1, offset=i)[0])
            i += 4
            if v == -2147483648:
                v = int(np.frombuffer(raw, dtype="<i8", count=1, offset=i)[0])
                i += 8
        deltas[k] = v
        k += 1
    return np.cumsum(deltas)


def _byte_offset_pack(values: np.ndarray) -> bytes:
    """int pixel vector → byte_offset stream (inverse of unpack)."""
    d = np.diff(values.astype(np.int64), prepend=np.int64(0))
    small = (d >= -127) & (d <= 127)
    parts = []
    prev = 0
    for j in np.flatnonzero(~small):
        j = int(j)
        parts.append(d[prev:j].astype(np.int8).tobytes())
        v = int(d[j])
        if -32767 <= v <= 32767:
            parts.append(b"\x80" + v.to_bytes(2, "little", signed=True))
        elif -2147483647 <= v <= 2147483647:
            parts.append(b"\x80\x00\x80" + v.to_bytes(4, "little", signed=True))
        else:
            parts.append(
                b"\x80\x00\x80\x00\x00\x00\x80" + v.to_bytes(8, "little", signed=True)
            )
        prev = j + 1
    parts.append(d[prev:].astype(np.int8).tobytes())
    return b"".join(parts)


def decode_cbf(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode one CBF blob → (2-D int array, binary-section header dict).

    Honors: X-Binary-Size-Fastest-Dimension (columns), -Second-Dimension
    (rows), X-Binary-Element-Type (signed/unsigned 16/32/64-bit), and
    two conversions: ``x-CBF_BYTE_OFFSET`` (the beamline default —
    Pilatus detectors write exactly this) and ``x-CBF_NONE``
    (uncompressed little-endian elements, the plain-CIF variant).
    Works for both CBF framings: miniCBF (``###CBF`` first line,
    detector metadata as ``# Key value`` comment lines in
    ``_array_data.header_contents``) and the full CIF-wrapped form
    (a ``data_`` block with CIF tags before the binary section).
    Pilatus ``# Key value...`` header-contents lines are parsed into
    the returned dict as ``Pilatus_<Key>`` entries."""
    sec = buf.index(_CBF_SECTION)
    mark = buf.index(_CBF_MAGIC, sec)
    fields: dict[str, str] = {}
    # miniCBF / Pilatus detector metadata: '# Exposure_time 0.099 s'
    # comment lines inside _array_data.header_contents (before the
    # binary section)
    for line in buf[:sec].decode("ascii", "replace").splitlines():
        line = line.strip()
        if line.startswith("#") and not line.startswith("###"):
            parts = line.lstrip("# ").split(None, 1)
            if len(parts) == 2 and parts[0][:1].isupper():
                # both Pilatus forms: '# Exposure_time 0.0995 s' and
                # '# Tau = 199.1e-09 s' — the '=' belongs to neither
                # the key nor the value
                fields[f"Pilatus_{parts[0].rstrip(':')}"] = parts[1].lstrip("= ")
    for line in buf[sec:mark].decode("ascii", "replace").splitlines():
        if ":" in line:
            k, v = line.split(":", 1)
            fields[k.strip()] = v.strip()
    nx = int(fields["X-Binary-Size-Fastest-Dimension"])
    ny = int(fields["X-Binary-Size-Second-Dimension"])
    dt = _CBF_ELEM_TYPES.get(
        fields.get("X-Binary-Element-Type", '"signed 32-bit integer"'), "i4"
    )
    raw = buf[mark + len(_CBF_MAGIC) :]
    # conversions may sit on a MIME continuation line, so test the raw
    # section text rather than the parsed key/value pairs
    if b"x-CBF_BYTE_OFFSET" in buf[sec:mark]:
        flat = _byte_offset_unpack(raw, nx * ny)
    elif b"x-CBF_NONE" in buf[sec:mark]:
        flat = np.frombuffer(raw, dtype=np.dtype(dt).newbyteorder("<"), count=nx * ny)
    else:
        raise ValueError(
            "unsupported CBF conversions (codec implements byte_offset and none)"
        )
    return flat.astype(np.dtype(dt)).reshape(ny, nx), fields


_CBF_ELEM_NAMES = {v: k for k, v in _CBF_ELEM_TYPES.items()}


def encode_cbf(
    img: np.ndarray,
    *,
    extra: dict | None = None,
    compression: str = "byte_offset",
    style: str = "mini",
    header_contents: str | None = None,
) -> bytes:
    """Encode a 2-D int array as a CBF blob — ``byte_offset`` (the
    beamline default) or ``none`` (uncompressed little-endian) — a
    pure-numpy writer for the public imgCIF structure; write side of
    the S1 seam and the tests' golden producer.

    ``style``: ``"mini"`` is the Pilatus miniCBF framing (``###CBF``
    first line, detector metadata as ``# Key value`` comment lines in
    ``_array_data.header_contents``); ``"cif"`` is the full CIF-wrapped
    form (a ``data_`` block carrying CIF tags, no ``###CBF`` sentinel
    — the framing CBFlib itself writes). ``header_contents`` is the
    newline-joined ``# Key value`` detector block (both framings carry
    it the same way)."""
    if img.dtype.kind not in "iu":
        raise ValueError(f"CBF stores integer counts, got {img.dtype}")
    if compression not in ("byte_offset", "none"):
        raise ValueError(f"unknown CBF compression {compression!r}")
    if style not in ("mini", "cif"):
        raise ValueError(f"unknown CBF style {style!r}")
    code = f"{'u' if img.dtype.kind == 'u' else 'i'}{img.dtype.itemsize}"
    # widths without an imgCIF element-type name map to the nearest
    # declared width (1-byte widens; u8 narrows to signed 64-bit —
    # the pre-round-5 behavior, exact for counts < 2^63)
    code = {"i1": "i2", "u1": "u2", "u8": "i8"}.get(code, code)
    if code not in _CBF_ELEM_NAMES:
        raise ValueError(f"unsupported CBF element width {img.dtype}")
    elem = _CBF_ELEM_NAMES[code]
    if compression == "byte_offset":
        payload = _byte_offset_pack(img.ravel())
    else:
        payload = (
            img.astype(np.dtype(code).newbyteorder("<"), copy=False)
            .ravel()
            .tobytes()
        )
    hc = (
        f"_array_data.header_convention \"PILATUS_1.2\"\n"
        f"_array_data.header_contents\n;\n{header_contents}\n;\n\n"
        if header_contents
        else ""
    ).encode()
    if style == "mini":
        preamble = (
            b"###CBF: VERSION 1.5\n"
            b"# pure-numpy byte_offset writer (public imgCIF spec)\n\n"
            b"data_image_1\n\n" + hc
        )
    else:
        preamble = (
            b"data_image_1\n\n"
            b"_diffrn.id DS1\n_diffrn.crystal_id xtal1\n\n" + hc +
            b"loop_\n_array_element_size.array_id\n"
            b"_array_element_size.index\n_array_element_size.size\n"
            b"image_1 1 172e-6\nimage_1 2 172e-6\n\n"
        )
    head = (
        preamble
        + b"_array_data.data\n;\n"
        + _CBF_SECTION
        + b"\n"
        b"Content-Type: application/octet-stream;\n"
        + (
            b'     conversions="x-CBF_BYTE_OFFSET"\n'
            if compression == "byte_offset"
            else b'     conversions="x-CBF_NONE"\n'
        )
        + b"Content-Transfer-Encoding: BINARY\n"
        + f"X-Binary-Size: {len(payload)}\n".encode()
        + b"X-Binary-ID: 1\n"
        + f"X-Binary-Element-Type: {elem}\n".encode()
        + b"X-Binary-Element-Byte-Order: LITTLE_ENDIAN\n"
        + f"X-Binary-Number-of-Elements: {img.size}\n".encode()
        + f"X-Binary-Size-Fastest-Dimension: {img.shape[1]}\n".encode()
        + f"X-Binary-Size-Second-Dimension: {img.shape[0]}\n".encode()
        + "".join(f"{k}: {v}\n" for k, v in (extra or {}).items()).encode()
        + b"\n"
    )
    tail = b"\n" + _CBF_SECTION + b"--\n;\n"
    return head + _CBF_MAGIC + payload + tail


def read_binary_assets(spark: SparkSession, path_glob: str, modality: str) -> DataFrame:
    """Binary source (SURVEY S1/U1 shape): opaque payload + typed
    metadata. At 100 TB this is the columnar manifest scan; payloads
    stream through executors only."""
    df = spark.read.format("binaryFile").load(path_glob)
    return df.select(
        F.col("path"),
        F.lit(modality).alias("modality"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("content"),
    )


def decode_image(
    assets: DataFrame,
    *,
    shape: tuple[int, int] = (32, 32),
    codec: str | None = None,
) -> DataFrame:
    """binary image → pixel rows via mapInPandas (U1: 1 file → H·W rows;
    a multi-frame EDF stack fans out to one row-set per frame, keyed by
    the ``frame`` column — the reference stacks frames 3-D,
    trx/azav.py:42-46; pass ``image=["file", "frame"]`` downstream).
    Gzip-wrapped blobs (``.edf.gz`` — the reference's default glob is
    ``*.edf*`` and fabio decompresses transparently) are gunzipped
    before decode for every real codec.

    ``codec``:
      - ``"edf"`` — REAL decode of the reference's detector format
        (pure-numpy :func:`decode_edf`; the reference goes through
        fabio, trx/azav.py:29-34, whose default beamline output is EDF).
      - ``"cbf"`` — REAL decode of the imgCIF byte_offset format
        (pure-numpy :func:`decode_cbf`; fabio's other beamline format,
        trx/azav.py:29-47).
      - ``"tiff"`` — REAL decode of baseline uncompressed TIFF
        (pure-numpy :func:`decode_tiff`; the third fabio format).
      - ``"mar345"`` — REAL decode of the marresearch image-plate
        format (pure-numpy :func:`decode_mar345`: CCP4 PCK bit stream
        + overflow table; fabio's mar345 surface).
      - ``"marccd"`` — REAL decode of the MarCCD detector format
        (TIFF container + frame header at 1024, pixels through the
        spec-certain TIFF path; fabio's mccd surface).
      - ``"bruker"`` — REAL decode of the Bruker SFRM frame format
        (80-char keyed header records + ASCII overflow table;
        fabio's bruker surface).
      - ``"adsc"`` — REAL decode of the ADSC Quantum SMV format
        (padded ``{key=value;}`` ASCII header + raw uint16 pixels;
        fabio's adsc surface).
      - ``"png"`` — REAL decode of PNG (pure numpy + zlib
        :func:`decode_png`; color images reduce to the integer
        Rec.601 luma plane, :func:`png_luma`) — the web-corpus image
        format of the training-data brief.
      - ``"jpeg"`` — REAL decode of baseline and progressive JPEG
        (pure numpy :func:`decode_jpeg`: Huffman entropy decode,
        dequantize, exact 8x8 IDCT, chroma upsample, BT.601 color;
        4:2:0/4:2:2/4:4:4 and DRI restarts) — the other web-corpus
        format.
      - ``"auto"`` — per-file magic-byte sniffing across the real
        formats (fabio's auto-detection behavior: a real beamline
        folder mixes formats).
      - ``"fake"`` (default) — deterministic intensity pattern seeded by
        the content hash: same schema/partitioning/batch shape, stable
        golden values, for schema-level plumbing tests and synthetic
        benchmarks that need no codec at all.

    Every real codec runs :func:`decode_frames` — the same module
    codecs as :func:`decode_any` and the ``detector_image`` reader. The
    kernel imports them on the worker, so the package ships to the
    executors first (:func:`~trx_spark.sources.imageds.ensure_executor_package`).
    """
    from trx_spark.sources.imageds import ensure_executor_package

    codec = codec or "fake"
    if codec not in ("auto", "fake") and _image_codec(codec) is None:
        raise ValueError(f"unknown codec {codec!r}")
    ensure_executor_package(assets.sparkSession)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from trx_spark.operators.multimodal import _pixel_rows

        for pdf in batches:
            yield _pixel_rows(pdf, codec, shape)

    return assets.select("path", "content").withColumnRenamed("path", "file").mapInPandas(
        decode, schema=PIXEL_SCHEMA
    )


def _pixel_rows(
    pdf: pd.DataFrame, codec: str, shape: tuple[int, int]
) -> pd.DataFrame:
    """One (file, content) batch → its PIXEL_SCHEMA rows: the body of
    :func:`decode_image`'s kernel."""
    out = []
    for _, row in pdf.iterrows():
        raw = bytes(row["content"])
        if codec == "fake":
            seed = int.from_bytes(hashlib.sha256(raw).digest()[:4], "big")
            rng = np.random.default_rng(seed)
            frames = [rng.poisson(100.0, size=shape).astype(float)]
        else:
            frames = decode_frames(raw, codec)
        for fk, img in enumerate(frames):
            iy, ix = np.mgrid[0 : img.shape[0], 0 : img.shape[1]]
            out.append(
                pd.DataFrame(
                    {
                        "file": row["file"],
                        "frame": np.int32(fk),
                        "y": iy.ravel().astype("int32"),
                        "x": ix.ravel().astype("int32"),
                        "intensity": img.ravel(),
                    }
                )
            )
    if not out:
        return pd.DataFrame({"file": [], "frame": [], "y": [], "x": [], "intensity": []})
    return pd.concat(out)


# ---------------------------------------------------------------------
# TIFF codec (baseline, uncompressed grayscale — the third and last of
# the reference's fabio detector formats, trx/azav.py:29-47). Public
# TIFF 6.0 structure: byte-order mark 'II'/'MM' + magic 42 + IFD offset;
# the IFD is a count followed by 12-byte tag entries (tag, type, count,
# value/offset); pixel data lives in strips. Tags honored: 256 width,
# 257 height, 258 bits/sample, 259 compression (=1 only), 273 strip
# offsets, 279 strip byte counts, 339 sample format (1 uint, 2 int,
# 3 float). Scientific detector TIFFs are exactly this shape.
# ---------------------------------------------------------------------

_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4, 5: 8, 8: 2, 9: 4, 11: 4, 12: 8}


def decode_tiff(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode one baseline TIFF blob → (2-D array, tag dict)."""
    bo = {b"II": "<", b"MM": ">"}.get(buf[:2])
    if bo is None or int.from_bytes(buf[2:4], "little" if bo == "<" else "big") != 42:
        raise ValueError("not a TIFF stream")
    try:
        end = "little" if bo == "<" else "big"
        ifd_off = int.from_bytes(buf[4:8], end)
        n = int.from_bytes(buf[ifd_off : ifd_off + 2], end)
        tags: dict[int, list[int]] = {}
        for k in range(n):
            e = ifd_off + 2 + 12 * k
            tag = int.from_bytes(buf[e : e + 2], end)
            typ = int.from_bytes(buf[e + 2 : e + 4], end)
            cnt = int.from_bytes(buf[e + 4 : e + 8], end)
            size = _TIFF_TYPE_SIZE.get(typ, 1) * cnt
            raw = buf[e + 8 : e + 12] if size <= 4 else None
            off = int.from_bytes(buf[e + 8 : e + 12], end)
            body = raw[:size] if raw is not None else buf[off : off + size]
            w = _TIFF_TYPE_SIZE.get(typ, 1)
            tags[tag] = [int.from_bytes(body[i : i + w], end) for i in range(0, size, w)]
        comp = tags.get(259, [1])[0]
        if comp not in (1, 5, 32773):
            raise ValueError(
                "unsupported TIFF compression (baseline, LZW, PackBits only)"
            )
        nx, ny = tags[256][0], tags[257][0]
        bits = tags.get(258, [8])[0]
        sfmt = tags.get(339, [1])[0]
        kind = {1: "u", 2: "i", 3: "f"}[sfmt]
        dt = np.dtype(f"{bo}{kind}{bits // 8}")
        strips = [buf[o : o + c] for o, c in zip(tags[273], tags[279])]
        if comp == 32773:
            strips = [_packbits_decode(s) for s in strips]
        elif comp == 5:
            strips = [_lzw_decode(s) for s in strips]
        data = b"".join(strips)
        img = np.frombuffer(data, dtype=dt, count=nx * ny).reshape(ny, nx)
        if tags.get(317, [1])[0] == 2:  # horizontal differencing predictor
            if kind != "u":
                raise ValueError("TIFF predictor 2 supported for unsigned only")
            img = (np.cumsum(img.astype(np.int64), axis=1) % (1 << bits)).astype(dt)
        return img, tags
    except (KeyError, IndexError, TypeError) as exc:
        # parse-layer errors on truncated/garbled input surface as
        # the documented decode contract, cause chain preserved
        raise ValueError("truncated or invalid TIFF stream") from exc


def _lzw_decode(s: bytes) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first variable-width codes
    starting at 9 bits, ClearCode 256 / EOI 257, and the TIFF "early
    change" — the code width increments when the NEXT table entry
    would be the last representable code (at 510/1022/2046 entries),
    one code earlier than classic GIF LZW."""
    out = bytearray()
    acc = nbits = 0
    pos = 0
    n = len(s)
    width = 9
    table: list[bytes] = []
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)  # stream ends without EOI: accept
            acc = (acc << 8) | s[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == 256:  # ClearCode
            reset()
            continue
        if code == 257:  # EOI
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt TIFF LZW stream")
        out += entry
        prev = entry
        # early change (TIFF 6.0 §13): the decoder's table lags the
        # encoder's by one entry, so it widens at 2^w − 2 entries —
        # one code earlier than the encoder's 2^w − 1
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
    return bytes(out)


def _lzw_encode(s: bytes) -> bytes:
    """TIFF-variant LZW writer (the tests' golden producer), emitting
    ClearCode first and honoring the early-change width rule."""
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(256, width)
    cur = b""
    for b in s:
        cand = cur + bytes([b])
        if cand in table:
            cur = cand
            continue
        put(table[cur], width)
        table[cand] = next_code
        next_code += 1
        # encoder widens once the next assignable code no longer fits
        # the current width minus the reserved top code (2^w − 1)
        if next_code >= (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:  # keep headroom, emit Clear (libtiff habit)
            put(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([b])
    if cur:
        put(table[cur], width)
    put(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(s: bytes) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773, public TIFF 6.0
    §9): control n in 0..127 copies n+1 literals, 129..255 repeats the
    next byte 257−n times, 128 is a no-op."""
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        i += 1
        if c < 128:
            out += s[i : i + c + 1]
            i += c + 1
        elif c > 128:
            out += s[i : i + 1] * (257 - c)
            i += 1
    return bytes(out)


def _packbits_encode(s: bytes) -> bytes:
    """PackBits writer (runs ≥3 bytes become repeats; the tests'
    golden producer)."""
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        j = i
        while j + 1 < n and s[j + 1] == s[j] and j - i < 127:
            j += 1
        if j - i >= 2:  # run of (j - i + 1) identical bytes
            out.append(257 - (j - i + 1))
            out.append(s[i])
            i = j + 1
            continue
        # literal stretch up to the next ≥3-run or 128 bytes
        k = i + 1
        while (
            k < n
            and k - i < 128
            and not (k + 2 < n and s[k] == s[k + 1] == s[k + 2])
        ):
            k += 1
        out.append(k - i - 1)
        out += s[i:k]
        i = k
    return bytes(out)


def encode_tiff(
    img: np.ndarray, *, byte_order: str = "<", compression: int = 1,
    predictor: int = 1,
) -> bytes:
    """Encode a 2-D array as a single-strip TIFF — uncompressed
    (``compression=1``), LZW (``5``) or PackBits RLE (``32773``),
    optionally with the horizontal-differencing ``predictor=2``; the
    write side of the S1 seam and the tests' golden producer."""
    if byte_order not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    if compression not in (1, 5, 32773):
        raise ValueError("compression must be 1, 5 (LZW) or 32773 (PackBits)")
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 or 2")
    end = "little" if byte_order == "<" else "big"
    kind = img.dtype.kind
    if kind not in "uif":
        raise ValueError(f"unsupported dtype {img.dtype}")
    if predictor == 2:
        if kind != "u":
            raise ValueError("TIFF predictor 2 supported for unsigned only")
        bits_ = img.dtype.itemsize * 8
        diff = img.astype(np.int64)
        diff[:, 1:] = diff[:, 1:] - diff[:, :-1]
        img = (diff % (1 << bits_)).astype(img.dtype)
    sfmt = {"u": 1, "i": 2, "f": 3}[kind]
    payload = img.astype(img.dtype.newbyteorder(byte_order), copy=False).tobytes()
    if compression == 32773:
        payload = _packbits_encode(payload)
    elif compression == 5:
        payload = _lzw_encode(payload)
    ny, nx = img.shape
    # layout: 8-byte header | pixel strip | IFD
    strip_off = 8
    ifd_off = strip_off + len(payload)
    entries = [
        (256, 3, 1, nx),
        (257, 3, 1, ny),
        (258, 3, 1, img.dtype.itemsize * 8),
        (259, 3, 1, compression),
        (262, 3, 1, 1),  # BlackIsZero
        (273, 4, 1, strip_off),
        (277, 3, 1, 1),
        (278, 3, 1, ny),
        (279, 4, 1, len(payload)),
        (317, 3, 1, predictor),
        (339, 3, 1, sfmt),
    ]
    ifd = len(entries).to_bytes(2, end)
    for tag, typ, cnt, val in entries:
        # short values are LEFT-justified in the 4-byte value field in
        # both byte orders (TIFF 6.0 §2)
        ifd += (
            tag.to_bytes(2, end)
            + typ.to_bytes(2, end)
            + cnt.to_bytes(4, end)
            + val.to_bytes(_TIFF_TYPE_SIZE[typ], end).ljust(4, b"\x00")
        )
    ifd += (0).to_bytes(4, end)
    header = (
        (b"II" if byte_order == "<" else b"MM")
        + (42).to_bytes(2, end)
        + ifd_off.to_bytes(4, end)
    )
    return header + payload + ifd


# ---------------------------------------------------------------------
# mar345 codec (marresearch image-plate format — part of the
# reference's "whatever fabio reads" surface, trx/azav.py:29-34). The
# container is public (mar345 format description / CCP4): a 4096-byte
# header of 32-bit words led by the byte-order sentinel 1234 and the
# square image size, an overflow table of (1-based address, value)
# int32 records for pixels above the 16-bit packed ceiling, the ASCII
# marker line "\nCCP4 packed image, X: %04d, Y: %04d\n", then the CCP4
# PCK stream: differences from a neighbor prediction (first pixel raw;
# rest of row 0 predicted by the left pixel; later rows by the
# truncated mean (W + NW + N + NE + 2)/4 over FLAT indices — row
# boundaries wrap into the adjacent row, the pack_c convention; the
# single out-of-range NW at the first 4-neighbor pixel reuses the left
# pixel), packed LSB-first in blocks
# with a 6-bit header (3 bits log2 block length, 3 bits index into the
# bit-size table {0,4,5,6,7,8,16,32}), values two's-complement signed.
# Verified by roundtrip + distributed tests against this encoder (the
# same verification scope as the EDF/CBF/TIFF codecs), plus a by-hand
# derivation of the pack_c prediction formula in
# tests/test_multimodal.py::test_mar345_pck_prediction_convention that
# pins the flat-index row-wrap and i==size NW-fallback conventions
# independently of the encoder. (A golden produced by fabio's mar345
# writer would pin the bit-packing against real beamline files too;
# fabio is not installable in this environment.)
# ---------------------------------------------------------------------

_MAR345_SENTINEL = 1234
_PCK_BITS = (0, 4, 5, 6, 7, 8, 16, 32)
_PCK_MARKER_FMT = "\nCCP4 packed image, X: %04d, Y: %04d\n"
_PCK_BLOCK = 8  # encoder block length (decoder accepts any power of 2)
_MAR345_CEIL = 65535  # packed-stream ceiling; larger pixels → overflow


def _pck_pack_diffs(diffs: np.ndarray) -> bytes:
    """Pack int64 differences into the PCK bit stream (blocks of
    ``_PCK_BLOCK``, per-block minimal bit size from the table)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def put(v: int, b: int) -> None:
        nonlocal acc, nbits
        acc |= (v & ((1 << b) - 1)) << nbits
        nbits += b
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    d = np.asarray(diffs, dtype=np.int64)
    pad = (-len(d)) % _PCK_BLOCK
    if pad:
        d = np.concatenate([d, np.zeros(pad, dtype=np.int64)])
    lg = _PCK_BLOCK.bit_length() - 1
    for s in range(0, len(d), _PCK_BLOCK):
        blk = d[s : s + _PCK_BLOCK]
        lo, hi = int(blk.min()), int(blk.max())
        idx = next(
            i for i, b in enumerate(_PCK_BITS)
            if (b == 0 and lo == 0 and hi == 0)
            or (b > 0 and lo >= -(1 << (b - 1)) and hi < (1 << (b - 1)))
        )
        put(lg, 3)
        put(idx, 3)
        bits = _PCK_BITS[idx]
        if bits:
            for v in blk:
                put(int(v), bits)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _pck_unpack_diffs(raw: bytes, n: int) -> np.ndarray:
    """Unpack ``n`` differences from a PCK bit stream (int64)."""
    out = np.empty(n, dtype=np.int64)
    acc = 0
    nbits = 0
    pos = 0
    k = 0

    def get(b: int) -> int:
        nonlocal acc, nbits, pos
        while nbits < b:
            acc |= raw[pos] << nbits
            pos += 1
            nbits += 8
        v = acc & ((1 << b) - 1)
        acc >>= b
        nbits -= b
        return v

    while k < n:
        blocklen = 1 << get(3)
        bits = _PCK_BITS[get(3)]
        for _ in range(blocklen):
            if bits:
                v = get(bits)
                if v >= 1 << (bits - 1):
                    v -= 1 << bits
            else:
                v = 0
            if k < n:  # final block may be padded
                out[k] = v
            k += 1
    return out


def _pck_predictions_apply(diffs: np.ndarray, size: int) -> np.ndarray:
    """Reconstruct pixels from PCK differences: row 0 is a prefix sum;
    each later pixel adds the truncated 4-neighbor mean over flat
    indices. The in-row left dependency makes decode sequential per
    pixel (Python-level ~1 Mpx/s — the honest cost of a bit-packed
    legacy format; the hot beamline formats stay EDF/CBF)."""
    n = size * size
    img = np.zeros(n, dtype=np.int64)
    img[:size] = np.cumsum(diffs[:size])
    for i in range(size, n):
        # the very first 4-neighbor pixel (i == size) has no NW at a
        # valid flat index — reuse the left pixel for that term
        nw = img[i - size - 1] if i > size else img[i - 1]
        pred = (img[i - 1] + img[i - size + 1] + img[i - size] + nw + 2) >> 2
        img[i] = diffs[i] + pred
    return img.reshape(size, size)


def _pck_predictions_make(img: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_pck_predictions_apply`: pixels → differences."""
    size = img.shape[0]
    flat = img.astype(np.int64).ravel()
    n = flat.size
    d = np.empty(n, dtype=np.int64)
    d[0] = flat[0]
    d[1:size] = np.diff(flat[:size])
    i = np.arange(size, n)
    nw = i - size - 1
    nw[0] = size - 1  # i == size: out-of-range NW reuses the left pixel
    pred = (flat[i - 1] + flat[i - size + 1] + flat[i - size] + flat[nw] + 2) >> 2
    d[size:] = flat[size:] - pred
    return d


def decode_mar345(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode a mar345 blob → (2-D int64 array, header dict)."""
    for order in ("<", ">"):
        if int(np.frombuffer(buf, dtype=f"{order}i4", count=1)[0]) == _MAR345_SENTINEL:
            break
    else:
        raise ValueError("not a mar345 stream (missing 1234 sentinel)")
    try:
        words = np.frombuffer(buf, dtype=f"{order}i4", count=6)
        size, nhigh, fmt = int(words[1]), int(words[2]), int(words[3])
        if fmt != 1:
            raise ValueError(f"unsupported mar345 format word {fmt} (packed=1 only)")
        header = {
            "size": size,
            "nhigh": nhigh,
            "format": fmt,
            "mode": int(words[4]),
            "pixels": int(words[5]),
            "byte_order": order,
        }
        pos = 4096
        high = np.frombuffer(buf, dtype=f"{order}i4", count=2 * nhigh, offset=pos).reshape(
            nhigh, 2
        )
        pos += 8 * nhigh
        marker = (_PCK_MARKER_FMT % (size, size)).encode("ascii")
        mark = buf.index(marker, pos)
        diffs = _pck_unpack_diffs(buf[mark + len(marker) :], size * size)
        img = _pck_predictions_apply(diffs, size)
        for addr, val in high:
            img.flat[int(addr) - 1] = int(val)  # addresses are 1-based
        return img, header
    except (KeyError, IndexError, TypeError) as exc:
        # parse-layer errors on truncated/garbled input surface as
        # the documented decode contract, cause chain preserved
        raise ValueError("truncated or invalid mar345 stream") from exc


def encode_mar345(img: np.ndarray, *, byte_order: str = "<") -> bytes:
    """Encode a square non-negative integer image as a mar345 blob
    (4096-byte word header, overflow records for pixels above the
    16-bit packed ceiling, CCP4 marker line, PCK stream). The write
    side of the S1 seam for this format and the tests' golden
    producer."""
    if byte_order not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    if img.ndim != 2 or img.shape[0] != img.shape[1]:
        raise ValueError("mar345 images are square (size x size)")
    if img.dtype.kind not in "ui" or (img.dtype.kind == "i" and int(img.min()) < 0):
        raise ValueError("mar345 pixels are non-negative integers")
    if int(img.max()) >= 1 << 31:
        raise ValueError(
            "mar345 overflow records are int32 — pixels must be < 2^31"
        )
    size = img.shape[0]
    flat = img.astype(np.int64).ravel()
    over = np.flatnonzero(flat > _MAR345_CEIL)
    packed_img = np.minimum(flat, _MAR345_CEIL).reshape(size, size)
    nhigh = int(over.size)
    words = np.zeros(1024, dtype=f"{byte_order}i4")
    words[:6] = [_MAR345_SENTINEL, size, nhigh, 1, 1, size * size]
    head = bytearray(words.tobytes())
    head[128 : 128 + 12] = b"mar research"  # the spec's program tag
    high = np.empty((nhigh, 2), dtype=f"{byte_order}i4")
    high[:, 0] = over + 1  # 1-based addresses
    high[:, 1] = flat[over]
    marker = (_PCK_MARKER_FMT % (size, size)).encode("ascii")
    stream = _pck_pack_diffs(_pck_predictions_make(packed_img))
    return bytes(head) + high.tobytes() + marker + stream


# ---------------------------------------------------------------------
# MarCCD codec (.mccd — the marccd detector format, another member of
# the reference's "whatever fabio reads" surface, trx/azav.py:29-34 and
# trx/mask.py:28). The container is a baseline TIFF: the pixel strip
# starts at the fixed offset 4096 and the IFD fits inside the first
# 1024 bytes; bytes [1024, 4096) hold the marccd frame_header struct
# (3072 bytes of little/big-endian uint32 words + fixed-width char
# fields, published with the marccd software and reproduced in CBFlib's
# format documentation). Pixels therefore decode through the
# spec-certain TIFF path; the frame header contributes metadata. Fields
# parsed here are the struct prefix (header_type, header_name,
# versions, byte orders, header_size, frame_type, magic,
# compression_type) plus nfast/nslow/depth at word offsets 80/84/88 —
# the dimensions are cross-checked against the authoritative TIFF IFD
# at decode and the IFD wins on disagreement.
# ---------------------------------------------------------------------

_MARCCD_HEADER_OFFSET = 1024
_MARCCD_HEADER_SIZE = 3072
_MARCCD_DATA_OFFSET = 4096
_MARCCD_NAME_OFFSET = _MARCCD_HEADER_OFFSET + 4  # char header_name[16]


def decode_marccd(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode a MarCCD (.mccd) blob → (2-D array, header dict)."""
    bo = {b"II": "<", b"MM": ">"}.get(buf[:2])
    if bo is None or len(buf) <= _MARCCD_DATA_OFFSET:
        raise ValueError("not a MarCCD stream (TIFF container too small)")
    if not buf[_MARCCD_NAME_OFFSET : _MARCCD_NAME_OFFSET + 6] == b"MarCCD":
        raise ValueError("not a MarCCD stream (missing header_name tag)")
    # frame_header byte order is self-describing: the header_byte_order
    # word holds 1234 in the header's own endianness
    h32 = int.from_bytes(buf[1024 + 28 : 1024 + 32], "little")
    end = "little" if h32 == 1234 else "big"
    w = lambda off: int.from_bytes(buf[1024 + off : 1024 + off + 4], end)
    header = {
        "header_type": w(0),
        "header_name": buf[1028:1044].rstrip(b"\x00").decode("ascii", "replace"),
        "header_major_version": w(20),
        "header_minor_version": w(24),
        "header_byte_order": w(28),
        "data_byte_order": w(32),
        "header_size": w(36),
        "frame_type": w(40),
        "magic_number": w(44),
        "compression_type": w(48),
        "nfast": w(80),
        "nslow": w(84),
        "depth": w(88),
    }
    img, tags = decode_tiff(buf)
    # the TIFF IFD is the spec-certain source of dimensions; surface a
    # frame-header disagreement rather than trusting unpinned offsets
    if header["nfast"] and (
        header["nfast"] != tags[256][0] or header["nslow"] != tags[257][0]
    ):
        raise ValueError(
            "MarCCD frame header dims disagree with TIFF IFD "
            f"({header['nfast']}x{header['nslow']} vs {tags[256][0]}x{tags[257][0]})"
        )
    return img, header


def encode_marccd(img: np.ndarray, *, byte_order: str = "<") -> bytes:
    """Encode a 2-D unsigned-int array as a MarCCD blob (TIFF header +
    IFD inside the first 1024 bytes, frame header at 1024, single pixel
    strip at the canonical 4096 offset). The write side of the S1 seam
    for this format and the tests' golden producer."""
    if byte_order not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    if img.ndim != 2 or img.dtype.kind != "u":
        raise ValueError("MarCCD frames are 2-D unsigned integers")
    end = "little" if byte_order == "<" else "big"
    ny, nx = img.shape
    payload = img.astype(img.dtype.newbyteorder(byte_order), copy=False).tobytes()
    entries = [
        (256, 3, 1, nx),
        (257, 3, 1, ny),
        (258, 3, 1, img.dtype.itemsize * 8),
        (259, 3, 1, 1),
        (262, 3, 1, 1),
        (273, 4, 1, _MARCCD_DATA_OFFSET),
        (277, 3, 1, 1),
        (278, 3, 1, ny),
        (279, 4, 1, len(payload)),
        (339, 3, 1, 1),
    ]
    ifd = len(entries).to_bytes(2, end)
    for tag, typ, cnt, val in entries:
        ifd += (
            tag.to_bytes(2, end)
            + typ.to_bytes(2, end)
            + cnt.to_bytes(4, end)
            + val.to_bytes(_TIFF_TYPE_SIZE[typ], end).ljust(4, b"\x00")
        )
    ifd += (0).to_bytes(4, end)
    head = bytearray(_MARCCD_DATA_OFFSET)
    head[0:2] = b"II" if byte_order == "<" else b"MM"
    head[2:4] = (42).to_bytes(2, end)
    head[4:8] = (8).to_bytes(4, end)  # IFD immediately after the header
    head[8 : 8 + len(ifd)] = ifd
    mar = bytearray(_MARCCD_HEADER_SIZE)

    def put(off: int, v: int) -> None:
        mar[off : off + 4] = v.to_bytes(4, end)

    put(0, 1)  # header_type
    mar[4:20] = b"MarCCD".ljust(16, b"\x00")
    put(20, 1)  # header_major_version
    put(24, 0)
    put(28, 1234)  # header_byte_order sentinel in its own endianness
    put(32, 1234)
    put(36, _MARCCD_HEADER_SIZE)
    put(40, 1)  # frame_type
    put(44, 1)  # magic_number
    put(48, 0)  # compression_type: none
    put(80, nx)  # nfast
    put(84, ny)  # nslow
    put(88, img.dtype.itemsize)  # depth
    head[_MARCCD_HEADER_OFFSET:_MARCCD_DATA_OFFSET] = mar
    return bytes(head) + payload


# ---------------------------------------------------------------------
# Bruker SFRM codec (.sfrm — the Bruker detector frame format, the last
# member of the reference's "whatever fabio reads" surface,
# trx/azav.py:29-34). The format is public (Bruker frame-format
# documentation; multiple independent open readers): a header of
# HDRBLKS x 512 bytes made of 80-character records ``KEY____:value``
# (7-char key, colon, 72-char value); then NROWS x NCOLS little-endian
# unsigned pixels of NPIXELB bytes each, row-major; then the overflow
# data, whose layout depends on the writer VERSION:
#
# - VERSION < 11 (legacy format 86): NOVERFL is a single count of
#   16-ASCII-character records (%9d value, %7d flat pixel offset),
#   padded to a 512-byte boundary; records are applied by offset.
# - VERSION >= 11 (what SAINT writes today, and what fabio's
#   brukerimage reads): NOVERFL carries THREE counts — underflow,
#   2-byte overflow, 4-byte overflow, in that order — and the tables
#   are binary, each padded to a 16-byte boundary: the underflow table
#   (NOVERFL[0] records of NPIXELB[1] bytes; -1 means no baseline
#   subtraction and no table), then NOVERFL[1] little-endian uint16
#   values replacing the pixels saturated at the 1-byte ceiling in
#   raster order, then NOVERFL[2] little-endian uint32 values
#   replacing the pixels saturated at the 2-byte ceiling in raster
#   order. A pixel AT the ceiling always has a table entry (whose
#   value may equal the ceiling).
# ---------------------------------------------------------------------

_SFRM_BLOCK = 512
_SFRM_LINE = 80


def _sfrm_header_items(buf: bytes, hdrblks: int) -> dict[str, str]:
    items: dict[str, str] = {}
    for off in range(0, hdrblks * _SFRM_BLOCK, _SFRM_LINE):
        line = buf[off : off + _SFRM_LINE].decode("ascii", "replace")
        key, val = line[:7].strip(), line[8:].strip()
        if key and key not in items:  # first occurrence wins (fabio-style)
            items[key] = val
    return items


def _sfrm_apply_overflow(
    img: np.ndarray, buf: bytes, pos: int, nov: list[int],
    npixelb: int, under_bytes: int,
) -> None:
    """Apply the VERSION>=11 binary overflow tables in place.

    ``nov`` is the 3-field NOVERFL (underflow, 2-byte, 4-byte counts);
    the tables follow ``pos`` in that order, each padded to a 16-byte
    boundary.  Saturated pixels are replaced in raster order: the
    1-byte-ceiling pixels from the uint16 table, then the
    2-byte-ceiling pixels from the uint32 table (fabio brukerimage
    semantics).  The underflow table (baseline re-addition) is skipped,
    not applied — no baseline-subtracted frames in this surface."""
    nunder, nov2, nov4 = nov
    if npixelb > 2 and (nov2 > 0 or nov4 > 0):
        raise ValueError("4-byte SFRM pixels cannot carry overflow tables")
    if nunder >= 0:
        pos += -(-(nunder * under_bytes) // 16) * 16
    flat = img.reshape(-1)
    if nov2 > 0:
        idx2 = np.flatnonzero(flat == 0xFF) if npixelb == 1 else np.array([], dtype=np.int64)
        if idx2.size != nov2:
            raise ValueError(
                f"SFRM 2-byte overflow count {nov2} does not match "
                f"{idx2.size} saturated pixels"
            )
        flat[idx2] = np.frombuffer(buf, dtype="<u2", count=nov2, offset=pos)
        pos += -(-(2 * nov2) // 16) * 16
    if nov4 > 0:
        idx4 = np.flatnonzero(flat == 0xFFFF)
        if idx4.size != nov4:
            raise ValueError(
                f"SFRM 4-byte overflow count {nov4} does not match "
                f"{idx4.size} saturated pixels"
            )
        flat[idx4] = np.frombuffer(buf, dtype="<u4", count=nov4, offset=pos)


def decode_bruker(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode a Bruker SFRM blob → (2-D int64 array, header dict)."""
    if buf[:7] != b"FORMAT " or buf[7:8] != b":":
        raise ValueError("not a Bruker SFRM stream (missing FORMAT record)")
    # HDRBLKS lives inside the first block — parse that, then the rest
    try:
        first = _sfrm_header_items(buf, 1)
        hdrblks = int(first.get("HDRBLKS", "3").split()[0])
        items = _sfrm_header_items(buf, hdrblks)
        nrows = int(items["NROWS"].split()[0])
        ncols = int(items["NCOLS"].split()[0])
        npixelb_fields = [int(x) for x in items["NPIXELB"].split()]
        npixelb = npixelb_fields[0]
        version = int(items.get("VERSION", "0").split()[0])
        nov = [int(x) for x in items.get("NOVERFL", "0").split()]
        if int(items.get("WORDORD", "0").split()[0]) != 0:
            raise ValueError("unsupported SFRM word order (little-endian only)")
        pos = hdrblks * _SFRM_BLOCK
        n = nrows * ncols
        img = np.frombuffer(
            buf, dtype=f"<u{npixelb}", count=n, offset=pos
        ).astype(np.int64).reshape(nrows, ncols)
        pos += n * npixelb
        if version >= 11:
            if len(nov) < 3:
                raise ValueError(
                    "SFRM VERSION>=11 requires a 3-field NOVERFL "
                    "(underflow, 2-byte, 4-byte counts); got "
                    + items.get("NOVERFL", "")
                )
            under_bytes = npixelb_fields[1] if len(npixelb_fields) > 1 else 1
            _sfrm_apply_overflow(img, buf, pos, nov[:3], npixelb, under_bytes)
        else:
            # legacy format-86 ASCII overflow table: 16-char records
            # (%9d value, %7d offset), applied by explicit flat offset
            for k in range(nov[0]):
                rec = buf[pos + 16 * k : pos + 16 * (k + 1)].decode("ascii")
                img.flat[int(rec[9:16])] = int(rec[:9])
        header = {
            "format": int(items.get("FORMAT", "86").split()[0]),
            "version": version,
            "hdrblks": hdrblks,
            "nrows": nrows,
            "ncols": ncols,
            "npixelb": npixelb,
            "noverfl": nov,
        }
        return img, header
    except (KeyError, IndexError, TypeError) as exc:
        # parse-layer errors on truncated/garbled input surface as
        # the documented decode contract, cause chain preserved
        raise ValueError("truncated or invalid Bruker SFRM stream") from exc


def _pad16(b: bytes) -> bytes:
    return b.ljust(-(-len(b) // 16) * 16, b"\x00") if b else b


def encode_bruker(img: np.ndarray, *, npixelb: int = 2, version: int = 11) -> bytes:
    """Encode a 2-D non-negative integer image as a Bruker SFRM blob.

    ``version >= 11`` (the default, matching what current SAINT writes
    and the header this encoder stamps) emits the 3-field NOVERFL and
    binary 16-byte-padded overflow tables; an earlier ``version``
    emits the legacy format-86 single-count ASCII overflow table."""
    if img.ndim != 2 or img.dtype.kind not in "ui" or (
        img.dtype.kind == "i" and int(img.min()) < 0
    ):
        raise ValueError("SFRM pixels are 2-D non-negative integers")
    if npixelb not in (1, 2, 4):
        raise ValueError("NPIXELB must be 1, 2 or 4")
    nrows, ncols = img.shape
    flat = img.astype(np.int64).ravel()
    ceil = (1 << (8 * npixelb)) - 1
    if version >= 11:
        if int(flat.max(initial=0)) > 0xFFFF_FFFF:
            raise ValueError("SFRM overflow values exceed the uint32 table")
        # a pixel AT the ceiling is saturated and gets a table entry
        # (decode replaces ceiling pixels positionally, so every one
        # of them must be accounted for)
        over2 = np.flatnonzero(flat >= 0xFF) if npixelb == 1 else np.array([], dtype=np.int64)
        over4 = np.flatnonzero(flat >= 0xFFFF) if npixelb <= 2 else np.array([], dtype=np.int64)
        noverfl = f"-1 {over2.size} {over4.size}"
        table = _pad16(
            np.minimum(flat[over2], 0xFFFF).astype("<u2").tobytes()
        ) + _pad16(flat[over4].astype("<u4").tobytes())
    else:
        over = np.flatnonzero(flat > ceil)
        if over.size and (
            int(flat[over].max()) > 999_999_999 or flat.size > 9_999_999
        ):
            raise ValueError("overflow record exceeds the 16-char ASCII field")
        noverfl = str(int(over.size))
        table = b"".join(
            f"{int(flat[o]):9d}{int(o):7d}".encode("ascii") for o in over
        )
        if table:
            table = table.ljust(-(-len(table) // _SFRM_BLOCK) * _SFRM_BLOCK, b" ")
    records = [
        ("FORMAT", "86"),
        ("VERSION", str(version)),
        ("HDRBLKS", "3"),
        ("TYPE", "Synthetic frame"),
        ("NROWS", str(nrows)),
        ("NCOLS", str(ncols)),
        ("WORDORD", "0"),
        ("LONGORD", "0"),
        ("NPIXELB", f"{npixelb} 1" if version >= 11 else str(npixelb)),
        ("NOVERFL", noverfl),
    ]
    head = b"".join(
        f"{k:<7s}:{v:<72s}".encode("ascii") for k, v in records
    )
    hdrblks = 3
    head = head.ljust(hdrblks * _SFRM_BLOCK, b"\x1a")  # classic pad byte
    body = np.minimum(flat, ceil).astype(f"<u{npixelb}").tobytes()
    return head + body + table


# ---------------------------------------------------------------------
# ADSC SMV codec (.img — the ADSC Quantum detector format, another
# member of the reference's "whatever fabio reads" surface,
# trx/azav.py:29-34). The format is public (the SMV "Super Marty View"
# header convention, documented with the ADSC detectors and in every
# open reader): an ASCII header "{\n KEY=value;\n ... }\f" padded with
# NULs to HEADER_BYTES (512 by default; HEADER_BYTES is by convention
# the first key), then SIZE1 x SIZE2 unsigned 16-bit pixels in
# BYTE_ORDER endianness at the HEADER_BYTES offset, row-major with
# SIZE1 the fast axis (so the array shape is (SIZE2, SIZE1)).
# ---------------------------------------------------------------------

_SMV_TYPES = {"unsigned_short": "u2", "unsigned_long": "u4", "signed_short": "i2"}


def _smv_header(buf: bytes) -> dict[str, str]:
    end = buf.index(b"}")
    fields: dict[str, str] = {}
    for line in buf[: end + 1].decode("ascii", "replace").strip("{} \r\n").splitlines():
        line = line.strip().rstrip(";")
        if "=" in line:
            k, v = line.split("=", 1)
            fields[k.strip()] = v.strip()
    return fields


def decode_adsc(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode an ADSC SMV blob → (2-D array shaped (SIZE2, SIZE1),
    header dict)."""
    if buf.lstrip()[:1] != b"{" or b"HEADER_BYTES" not in buf[:512]:
        raise ValueError("not an ADSC SMV stream (missing HEADER_BYTES)")
    fields = _smv_header(buf)
    hdr_bytes = int(fields["HEADER_BYTES"])
    nx = int(fields["SIZE1"])
    ny = int(fields["SIZE2"])
    order = "<" if fields.get("BYTE_ORDER", "little_endian") == "little_endian" else ">"
    kind = _SMV_TYPES.get(fields.get("TYPE", "unsigned_short"))
    if kind is None:
        raise ValueError(f"unsupported SMV TYPE {fields.get('TYPE')!r}")
    img = np.frombuffer(
        buf, dtype=f"{order}{kind}", count=nx * ny, offset=hdr_bytes
    )
    return img.reshape(ny, nx), fields


def encode_adsc(img: np.ndarray, *, byte_order: str = "<") -> bytes:
    """Encode a 2-D array as an ADSC SMV blob (512-byte padded ASCII
    header + raw pixels). The write side of the S1 seam for this
    format and the tests' golden producer."""
    if byte_order not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    smv_type = {v: k for k, v in _SMV_TYPES.items()}.get(img.dtype.str[1:])
    if img.ndim != 2 or smv_type is None:
        raise ValueError(
            "SMV frames are 2-D unsigned_short/unsigned_long/signed_short"
        )
    ny, nx = img.shape
    head = (
        "{\nHEADER_BYTES= 512;\nDIM=2;\n"
        f"BYTE_ORDER={'little_endian' if byte_order == '<' else 'big_endian'};\n"
        f"TYPE={smv_type};\n"
        f"SIZE1={nx};\nSIZE2={ny};\n"
        "}\f"
    ).encode("ascii")
    if len(head) > 512:
        raise ValueError("SMV header overflow")
    payload = img.astype(img.dtype.newbyteorder(byte_order), copy=False).tobytes()
    return head.ljust(512, b"\x00") + payload


# ---------------------------------------------------------------------
# PNG codec (the web-corpus image leg of the multimodal brief; the
# reference's fabio surface is scientific formats only, so this has no
# reference counterpart). The format is public (W3C PNG spec / RFC
# 2083): an 8-byte signature, then chunks of (4-byte big-endian length,
# 4-byte type, payload, CRC32 of type+payload). IHDR carries
# (width, height, bit depth, color type, compression, filter,
# interlace); the concatenated IDAT payloads are one zlib stream whose
# inflated bytes are scanlines of (1 filter byte + width*bpp bytes),
# unfiltered per the 5 standard predictors (None/Sub/Up/Average/Paeth);
# PLTE maps color-type-3 indices to RGB. Everything needed is zlib +
# numpy — the same dependency budget as the EDF codec. Supported:
# bit depths 8/16, color types 0/2/3/4/6, both interlace methods
# (Adam7 is 7 independently-filtered sub-images scattered on a fixed
# 8x8 grid — a deterministic pixel permutation over the same
# unfilter).
# ---------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid: (x0, y0, dx, dy) per pass, PNG spec §8.2
_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_rows_to_samples(
    mat: np.ndarray, height: int, width: int, ch: int, depth: int
) -> np.ndarray:
    """(height, width*ch*(depth//8)) reconstructed bytes → (height,
    width, ch) int64 samples (16-bit is network byte order)."""
    if depth == 16:
        pairs = mat.reshape(height, width, ch, 2).astype(np.int64)
        return (pairs[..., 0] << 8) | pairs[..., 1]
    return mat.reshape(height, width, ch).astype(np.int64)


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Inflated IDAT scanlines → (height, stride) uint8 matrix of
    reconstructed filtered bytes. Sub is a per-residue-class cumsum
    (mod 256 distributes over the running sum); Up is fully
    vectorized; Average/Paeth recur on the left neighbor and walk the
    row."""
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    for r in range(height):
        ft = raw[pos]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=pos + 1
        ).astype(np.int64)
        pos += 1 + stride
        prev = out[r - 1].astype(np.int64) if r else np.zeros(stride, dtype=np.int64)
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub
            rec = line.copy()
            for c in range(bpp):
                rec[c::bpp] = np.cumsum(rec[c::bpp]) & 0xFF
        elif ft == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ft == 3:  # Average
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (line[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = rec.astype(np.uint8)
    return out


def decode_png(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode a PNG blob → (pixel array, header dict).

    The array is int64: shape (H, W) for grayscale, (H, W, 2) for
    gray+alpha, (H, W, 3) for RGB (palette images are expanded through
    PLTE), (H, W, 4) for RGBA. Chunk CRCs are verified."""
    import zlib

    if buf[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG stream")
    pos, n_buf = 8, len(buf)
    ihdr = None
    plte = None
    idat: list[bytes] = []
    while pos + 8 <= n_buf:
        ln = int.from_bytes(buf[pos : pos + 4], "big")
        typ = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + ln]
        crc = int.from_bytes(buf[pos + 8 + ln : pos + 12 + ln], "big")
        if zlib.crc32(typ + data) != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        pos += 12 + ln
        if typ == b"IHDR":
            ihdr = (
                int.from_bytes(data[0:4], "big"),
                int.from_bytes(data[4:8], "big"),
                data[8], data[9], data[10], data[11], data[12],
            )
        elif typ == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        # ancillary chunks (tEXt, gAMA, tRNS, ...) are skipped
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unsupported PNG interlace method {interlace}")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {ctype}")
    if depth not in (8, 16) or (ctype == 3 and depth != 8):
        raise ValueError(f"unsupported PNG bit depth {depth} for color type {ctype}")
    ch = _PNG_CHANNELS[ctype]
    bpp = ch * (depth // 8)
    stride = width * bpp
    raw = zlib.decompress(b"".join(idat))
    if interlace == 1:
        # Adam7: 7 sub-images, each its own filtered scanline run
        # (filters never reach across passes), scattered on the fixed
        # 8x8 grid; empty passes contribute zero scanlines
        img = np.zeros((height, width, ch), dtype=np.int64)
        pos = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = -(-(width - x0) // dx) if width > x0 else 0
            ph = -(-(height - y0) // dy) if height > y0 else 0
            if pw <= 0 or ph <= 0:
                continue
            pstride = pw * bpp
            need = ph * (pstride + 1)
            if pos + need > len(raw):
                raise ValueError("PNG pixel data size mismatch")
            pmat = _png_unfilter(raw[pos : pos + need], ph, pstride, bpp)
            pos += need
            img[y0::dy, x0::dx] = _png_rows_to_samples(
                pmat, ph, pw, ch, depth
            )
        if pos != len(raw):
            raise ValueError("PNG pixel data size mismatch")
    else:
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG pixel data size mismatch")
        mat = _png_unfilter(raw, height, stride, bpp)
        img = _png_rows_to_samples(mat, height, width, ch, depth)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        img = plte[img[..., 0]].astype(np.int64)
        ch = 3
    if ch == 1:
        img = img[..., 0]
    header = {
        "width": width,
        "height": height,
        "bit_depth": depth,
        "color_type": ctype,
        "channels": ch,
        "interlace": interlace,
    }
    return img, header


def png_luma(img: np.ndarray) -> np.ndarray:
    """Deterministic 2-D intensity from a :func:`decode_png` array:
    grayscale passes through, alpha is dropped, color reduces by the
    classic integer Rec.601 luma (299 R + 587 G + 114 B) // 1000 —
    integer math, so the distributed pixel pipeline is exact."""
    if img.ndim == 2:
        return img
    if img.shape[2] == 2:  # gray + alpha
        return img[..., 0]
    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    return (299 * r + 587 * g + 114 * b) // 1000


def _png_filter_rows(
    body: np.ndarray, bpp: int, filters: int | str
) -> list[bytes]:
    """Filter a (rows, stride) uint8 byte matrix into PNG scanlines
    (1 filter byte + filtered bytes per row). One independent run per
    image — or per Adam7 pass, whose filters never see another pass."""
    lines: list[bytes] = []
    for r in range(body.shape[0]):
        ft = (r % 5) if filters == "cycle" else int(filters)
        cur = body[r].astype(np.int64)
        up = body[r - 1].astype(np.int64) if r else np.zeros_like(cur)
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        ul = np.zeros_like(cur)
        ul[bpp:] = up[:-bpp]
        if ft == 0:
            flt = cur
        elif ft == 1:
            flt = (cur - left) & 0xFF
        elif ft == 2:
            flt = (cur - up) & 0xFF
        elif ft == 3:
            flt = (cur - ((left + up) >> 1)) & 0xFF
        elif ft == 4:
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
            )
            flt = (cur - pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        lines.append(bytes([ft]) + flt.astype(np.uint8).tobytes())
    return lines


def _png_samples_to_rows(arr: np.ndarray, bit_depth: int) -> np.ndarray:
    """(h, w, ch) int64 samples → (h, w*ch*(depth//8)) uint8 bytes."""
    height, width, ch = arr.shape
    if bit_depth == 16:
        body = np.empty((height, width, ch, 2), dtype=np.uint8)
        body[..., 0] = arr >> 8
        body[..., 1] = arr & 0xFF
        return body.reshape(height, -1)
    return arr.astype(np.uint8).reshape(height, -1)


def encode_png(
    img: np.ndarray, *, bit_depth: int | None = None,
    palette: bool = False, filters: int | str = 0,
    interlace: bool = False,
) -> bytes:
    """Encode an image as a spec-compliant PNG blob (the write side of
    the seam and the tests' golden producer).

    ``img``: 2-D (grayscale) or (H, W, 3|4) (RGB / RGBA), non-negative
    integers. ``bit_depth`` defaults to 8, or 16 when any value exceeds
    255. ``palette=True`` emits a color-type-3 PNG (RGB input, ≤256
    distinct colors, depth 8). ``filters`` is a single predictor id
    (0-4) or ``"cycle"`` to rotate through all five per row — the
    test hook that exercises every unfilter path. ``interlace=True``
    emits Adam7 (7 independently filtered passes)."""
    import zlib

    if img.ndim == 2:
        arr = img[:, :, None]
        ctype = 0
    elif img.ndim == 3 and img.shape[2] in (2, 3, 4):
        arr = img
        ctype = {2: 4, 3: 2, 4: 6}[img.shape[2]]
    else:
        raise ValueError("PNG input must be 2-D or (H, W, 2|3|4)")
    arr = arr.astype(np.int64)
    if arr.min() < 0:
        raise ValueError("PNG samples are non-negative")
    if bit_depth is None:
        bit_depth = 16 if int(arr.max(initial=0)) > 255 else 8
    if bit_depth not in (8, 16) or int(arr.max(initial=0)) >= 1 << bit_depth:
        raise ValueError(f"samples exceed bit depth {bit_depth}")
    height, width, ch = arr.shape
    chunks: list[tuple[bytes, bytes]] = []
    if palette:
        if ctype != 2 or bit_depth != 8:
            raise ValueError("palette PNG requires RGB input at depth 8")
        colors, inv = np.unique(
            arr.reshape(-1, 3), axis=0, return_inverse=True
        )
        if len(colors) > 256:
            raise ValueError("palette PNG limited to 256 colors")
        chunks.append((b"PLTE", colors.astype(np.uint8).tobytes()))
        arr = inv.reshape(height, width, 1).astype(np.int64)
        ctype, ch = 3, 1
    bpp = ch * (bit_depth // 8)
    if interlace:
        lines = []
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            lines.extend(
                _png_filter_rows(
                    _png_samples_to_rows(sub, bit_depth), bpp, filters
                )
            )
    else:
        lines = _png_filter_rows(
            _png_samples_to_rows(arr, bit_depth), bpp, filters
        )
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes([bit_depth, ctype, 0, 0, int(interlace)])
    )
    chunks.insert(0, (b"IHDR", ihdr))
    chunks.append((b"IDAT", zlib.compress(b"".join(lines), 9)))
    chunks.append((b"IEND", b""))
    out = [_PNG_MAGIC]
    for typ, data in chunks:
        out.append(len(data).to_bytes(4, "big"))
        out.append(typ)
        out.append(data)
        out.append(zlib.crc32(typ + data).to_bytes(4, "big"))
    return b"".join(out)


# ---------------------------------------------------------------------
# JPEG codec (baseline DCT, the other web-corpus image format; public
# ITU-T T.81 spec — no reference counterpart). Decode: marker walk
# (DQT/DHT/SOF0/DRI/SOS), canonical-Huffman entropy decode with FF00
# unstuffing and restart-marker resync, dequantize, dezigzag, exact
# 8x8 float IDCT (orthonormal basis matrix product), chroma
# upsampling by replication, BT.601 YCbCr→RGB. Baseline sequential
# (SOF0/SOF1) and progressive (SOF2: spectral selection + successive
# approximation, _decode_jpeg_progressive). Encode: 4:4:4 (or
# grayscale) with caller-supplied quantization tables and a trivial
# fixed-length canonical Huffman table pair — valid per spec, favors
# simplicity over compression.
#
# Lossless fixed points: with all-ones quantization (the encoder
# default) a constant 8x8 block is EXACT through the whole lossy
# pipeline — its AC coefficients are identically zero and its DC is
# the integer 8·(v−128) — which is what lets the jpeg gate query hash
# the decoder bit-for-bit against an arithmetic oracle.
# ---------------------------------------------------------------------

_JPEG_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# orthonormal 8x8 DCT-II basis: A[u, x] = C(u)/2 · cos((2x+1)uπ/16)
_JPEG_A = np.array([
    [(np.sqrt(0.5) if u == 0 else 1.0) / 2.0
     * np.cos((2 * x + 1) * u * np.pi / 16.0) for x in range(8)]
    for u in range(8)
])

# trivial valid canonical tables for the encoder: all 12 DC size
# symbols at code length 4; AC run/size symbols 0..254 at length 9 and
# symbol 255 at length 10 (DHT BITS counts are single bytes, so one
# symbol spills to the next length)
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = list(range(256))


def _jpeg_canonical(bits, vals, *, invert=False):
    """Canonical Huffman assignment; ``invert=False`` gives
    symbol → (code, length) for the encoder, ``invert=True`` gives
    (length, code) → symbol for the decoder."""
    enc, dec = {}, {}
    code = k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            dec[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return dec if invert else enc


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self._n -= 8

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)


def _jpeg_encode_setup(img, quant, quant_chroma):
    """Shared encoder front end (baseline + progressive): validate the
    input, split into Y / YCbCr planes, normalize the zigzag-order
    quant tables, and build the natural-order divisor tables by the
    INVERSE scatter qnat[_JPEG_ZZ[k]] = qt[k] (qt[_JPEG_ZZ] applies
    the permutation the wrong way round — identical only for uniform
    tables).  Returns (gray, h, w, planes, qids, qts, qnat)."""
    img = np.asarray(img)
    if img.ndim not in (2, 3) or (img.ndim == 3 and img.shape[2] != 3):
        raise ValueError("JPEG input must be 2-D grayscale or (H, W, 3) RGB")
    gray = img.ndim == 2
    h, w = img.shape[:2]
    quant = (
        np.ones(64, dtype=np.int64)
        if quant is None
        else np.asarray(quant, dtype=np.int64).reshape(64)
    )
    qc = (
        quant
        if quant_chroma is None
        else np.asarray(quant_chroma, dtype=np.int64).reshape(64)
    )
    if gray:
        planes = [img.astype(np.float64)]
        qids = [0]
        qts = {0: quant}
    else:
        r, g, b = (img[..., i].astype(np.float64) for i in range(3))
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        qids = [0, 1, 1]
        qts = {0: quant, 1: qc}
    qnat = {}
    for qid, qt in qts.items():
        t = np.empty(64, dtype=np.int64)
        t[_JPEG_ZZ] = qt
        qnat[qid] = t.reshape(8, 8)
    return gray, h, w, planes, qids, qts, qnat


def _jpeg_mag(v: int) -> tuple[int, int]:
    """(size, appended-bits code) of a DC diff / AC value (T.81
    F.1.2.1: negative values store v + 2^size − 1)."""
    a = abs(int(v))
    s = a.bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def encode_jpeg(
    img: np.ndarray, *, quant=None, quant_chroma=None
) -> bytes:
    """Encode 2-D grayscale or (H, W, 3) RGB as baseline JPEG (4:4:4,
    8-bit). ``quant`` defaults to all-ones (near-lossless; constant
    blocks are exactly lossless — the gate fixture's property)."""
    gray, h, w, planes, qids, qts, qnat = _jpeg_encode_setup(
        img, quant, quant_chroma
    )
    dc_code = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_code = _jpeg_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes]
    bw = _JpegBitWriter()
    preds = [0] * len(planes)
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for ci, p in enumerate(padded):
                q = qnat[qids[ci]]
                blk = p[by : by + 8, bx : bx + 8] - 128.0
                coef = np.rint(_JPEG_A @ blk @ _JPEG_A.T / q).astype(np.int64)
                zz = coef.reshape(-1)[_JPEG_ZZ]
                diff = int(zz[0]) - preds[ci]
                preds[ci] = int(zz[0])
                s, code = _jpeg_mag(diff)
                c, ln = dc_code[s]
                bw.write(c, ln)
                if s:
                    bw.write(code, s)
                nz = np.flatnonzero(zz[1:])
                last = nz[-1] + 1 if nz.size else 0
                run, k = 0, 1
                while k <= last:
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        k += 1
                        continue
                    while run > 15:
                        c, ln = ac_code[0xF0]  # ZRL
                        bw.write(c, ln)
                        run -= 16
                    s, code = _jpeg_mag(v)
                    c, ln = ac_code[(run << 4) | s]
                    bw.write(c, ln)
                    bw.write(code, s)
                    run, k = 0, k + 1
                if last < 63:
                    c, ln = ac_code[0x00]  # EOB
                    bw.write(c, ln)
    bw.flush()
    out = bytearray(b"\xff\xd8")
    for qid, qt in qts.items():
        if int(qt.max()) > 255 or int(qt.min()) < 1:
            raise ValueError("quantization entries must be in [1, 255]")
        out += _jpeg_seg(0xDB, bytes([qid]) + bytes(int(x) for x in qt))
    nc = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, qids[ci]])
    out += _jpeg_seg(0xC0, sof)
    for cls, bits, vals in (
        (0, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (1, _JPEG_AC_BITS, _JPEG_AC_VALS),
    ):
        out += _jpeg_seg(0xC4, bytes([cls << 4]) + bytes(bits) + bytes(vals))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _jpeg_seg(0xDA, sos)
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(
    img: np.ndarray, *, quant=None, quant_chroma=None,
    successive: bool = False, restart_interval: int = 0,
) -> bytes:
    """Encode 2-D grayscale or (H, W, 3) RGB as PROGRESSIVE JPEG
    (SOF2, 4:4:4, 8-bit) — the write side of the wild-web decode seam
    and the tests' golden producer.

    ``successive=False``: spectral selection only — one interleaved DC
    scan (Al=0) then one full AC 1–63 scan per component.
    ``successive=True``: adds successive approximation — DC at Al=1
    plus a DC refinement scan, AC at Al=1 plus an AC refinement scan
    per component — exercising all four decoder block procedures
    (including EOB-runs, ZRL-with-history and correction bits).
    ``restart_interval``: emit a DRI segment and RSTn markers every
    that many data units in every scan (DC predictors and EOB-run
    state reset at each marker) — the decoder resync path."""
    if (
        isinstance(restart_interval, bool)
        or not isinstance(restart_interval, (int, np.integer))
        or not 0 <= int(restart_interval) <= 0xFFFF
    ):
        raise ValueError("restart_interval must be an int in [0, 65535]")
    restart_interval = int(restart_interval)
    gray, h, w, planes, qids, qts, qnat = _jpeg_encode_setup(
        img, quant, quant_chroma
    )
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    nby, nbx = ph // 8, pw // 8
    # forward transform once: per-component zigzag coefficient store
    coefs = []
    for ci, p in enumerate(planes):
        pp = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        arr = np.empty((nby, nbx, 64), dtype=np.int64)
        q = qnat[qids[ci]]
        for by in range(nby):
            for bx in range(nbx):
                blk = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coef = np.rint(_JPEG_A @ blk @ _JPEG_A.T / q).astype(np.int64)
                arr[by, bx] = coef.reshape(-1)[_JPEG_ZZ]
        coefs.append(arr)
    dc_code = _jpeg_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_code = _jpeg_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def sos(comp_ids, ss, se, ah, al, bw):
        seg = bytes([len(comp_ids)])
        for cid in comp_ids:
            seg += bytes([cid, 0x00])
        seg += bytes([ss, se, (ah << 4) | al])
        bw.flush()
        return _jpeg_seg(0xDA, seg) + bytes(bw.out)

    def restart_stepper(bw, reset=None):
        """Per-scan unit counter: every ``restart_interval`` data
        units, pad-flush the bit stream, emit the cycling RSTn marker
        (raw — markers are never byte-stuffed), and reset the scan's
        predictor state. Call once BEFORE each unit."""
        cnt = {"u": 0, "rk": 0}

        def step():
            if restart_interval and cnt["u"] and cnt["u"] % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (cnt["rk"] & 7)])
                cnt["rk"] += 1
                if reset is not None:
                    reset()
            cnt["u"] += 1

        return step

    def dc_first_scan(al):
        bw = _JpegBitWriter()
        preds = [0] * len(planes)

        def reset_preds():
            preds[:] = [0] * len(planes)

        step = restart_stepper(bw, reset_preds)
        for by in range(nby):
            for bx in range(nbx):
                step()
                for ci in range(len(planes)):
                    v = int(coefs[ci][by, bx, 0]) >> al  # arithmetic shift
                    diff = v - preds[ci]
                    preds[ci] = v
                    s, code = _jpeg_mag(diff)
                    c, ln = dc_code[s]
                    bw.write(c, ln)
                    if s:
                        bw.write(code, s)
        return sos([ci + 1 for ci in range(len(planes))], 0, 0, 0, al, bw)

    def dc_refine_scan(ah):
        bw = _JpegBitWriter()
        al = ah - 1
        step = restart_stepper(bw)
        for by in range(nby):
            for bx in range(nbx):
                step()
                for ci in range(len(planes)):
                    bw.write((int(coefs[ci][by, bx, 0]) >> al) & 1, 1)
        return sos([ci + 1 for ci in range(len(planes))], 0, 0, ah, al, bw)

    def ac_first_scan(ci, al):
        bw = _JpegBitWriter()
        step = restart_stepper(bw)  # per-block EOB0: no cross-unit state
        for by in range(nby):
            for bx in range(nbx):
                step()
                zz = coefs[ci][by, bx]
                # AC point transform is a MAGNITUDE shift (T.81 A.4)
                t = [
                    (1 if zz[k] > 0 else -1) * (abs(int(zz[k])) >> al)
                    for k in range(64)
                ]
                nz = [k for k in range(1, 64) if t[k]]
                last = nz[-1] if nz else 0
                run, k = 0, 1
                while k <= last:
                    v = t[k]
                    if v == 0:
                        run += 1
                        k += 1
                        continue
                    while run > 15:
                        c, ln = ac_code[0xF0]
                        bw.write(c, ln)
                        run -= 16
                    s, code = _jpeg_mag(v)
                    c, ln = ac_code[(run << 4) | s]
                    bw.write(c, ln)
                    bw.write(code, s)
                    run, k = 0, k + 1
                if last < 63:
                    c, ln = ac_code[0x00]  # EOB0 (eobrun = 1)
                    bw.write(c, ln)
        return sos([ci + 1], 1, 63, 0, al, bw)

    def ac_refine_scan(ci, ah):
        al = ah - 1
        bw = _JpegBitWriter()
        step = restart_stepper(bw)  # per-block flush: no cross-unit state

        def flush_br(br):
            for bit in br:
                bw.write(bit, 1)
            br.clear()

        for by in range(nby):
            for bx in range(nbx):
                step()
                zz = coefs[ci][by, bx]
                run, br = 0, []
                for k in range(1, 64):
                    t = abs(int(zz[k])) >> al
                    if t == 0:
                        run += 1
                        continue
                    # the ZRL check runs at EVERY nonzero position —
                    # BEFORE the history branch — so each flushed
                    # correction batch covers exactly the positions the
                    # decoder's matching advance walks (T.81 G.1.2.3)
                    while run > 15:
                        c, ln = ac_code[0xF0]
                        bw.write(c, ln)
                        flush_br(br)
                        run -= 16
                    if t > 1:
                        br.append(t & 1)  # history coeff: correction bit
                        continue
                    # newly nonzero at this precision (magnitude == 1)
                    c, ln = ac_code[(run << 4) | 1]
                    bw.write(c, ln)
                    bw.write(1 if zz[k] > 0 else 0, 1)  # sign bit
                    flush_br(br)
                    run = 0
                if run > 0 or br:
                    c, ln = ac_code[0x00]  # EOB0, then pending corrections
                    bw.write(c, ln)
                    flush_br(br)
        return sos([ci + 1], 1, 63, ah, al, bw)

    out = bytearray(b"\xff\xd8")
    for qid, qt in qts.items():
        if int(qt.max()) > 255 or int(qt.min()) < 1:
            raise ValueError("quantization entries must be in [1, 255]")
        out += _jpeg_seg(0xDB, bytes([qid]) + bytes(int(x) for x in qt))
    nc = len(planes)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, qids[ci]])
    out += _jpeg_seg(0xC2, sof)
    if restart_interval:
        out += _jpeg_seg(0xDD, int(restart_interval).to_bytes(2, "big"))
    for cls, bits, vals in (
        (0, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (1, _JPEG_AC_BITS, _JPEG_AC_VALS),
    ):
        out += _jpeg_seg(0xC4, bytes([cls << 4]) + bytes(bits) + bytes(vals))
    if successive:
        out += dc_first_scan(1)
        out += dc_refine_scan(1)
        for ci in range(nc):
            out += ac_first_scan(ci, 1)
        for ci in range(nc):
            out += ac_refine_scan(ci, 1)
    else:
        out += dc_first_scan(0)
        for ci in range(nc):
            out += ac_first_scan(ci, 0)
    out += b"\xff\xd9"
    return bytes(out)


class _JpegBitReader:
    def __init__(self, data: bytes):
        self.d = data
        self.i = 0
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.i >= len(self.d):
                raise ValueError("JPEG entropy stream truncated")
            self._acc = self.d[self.i]
            self.i += 1
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid JPEG huffman code")

    def align(self) -> None:
        self._n = 0


def _jpeg_extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_parse_dqt(seg: bytes, qts: dict) -> None:
    """Parse one DQT segment (8- or 16-bit precision tables, several
    tables per segment) into ``qts`` — shared by the baseline and
    progressive marker walks."""
    p = 0
    while p < len(seg):
        pq, tq = seg[p] >> 4, seg[p] & 15
        if pq == 0:
            qts[tq] = np.frombuffer(
                seg[p + 1 : p + 65], dtype=np.uint8
            ).astype(np.int64)
            p += 65
        else:  # 16-bit precision tables
            qts[tq] = np.frombuffer(
                seg[p + 1 : p + 129], dtype=">u2"
            ).astype(np.int64)
            p += 129


def _jpeg_parse_dht(seg: bytes, huffs: dict) -> None:
    """Parse one DHT segment (several tables per segment) into the
    decoder-direction canonical maps in ``huffs`` — shared by the
    baseline and progressive marker walks."""
    p = 0
    while p < len(seg):
        cls, tid = seg[p] >> 4, seg[p] & 15
        bits = list(seg[p + 1 : p + 17])
        cnt = sum(bits)
        if len(bits) < 16 or len(seg) < p + 17 + cnt:
            raise ValueError("truncated JPEG DHT segment")
        huffs[(cls, tid)] = _jpeg_canonical(
            bits, list(seg[p + 17 : p + 17 + cnt]), invert=True
        )
        p += 17 + cnt


def _jpeg_parse_sof_components(seg: bytes):
    """(height, width, component dicts) from an SOF payload — shared
    by the baseline and progressive marker walks."""
    hgt = int.from_bytes(seg[1:3], "big")
    wid = int.from_bytes(seg[3:5], "big")
    try:
        comps = [
            {
                "id": seg[6 + 3 * c],
                "h": seg[7 + 3 * c] >> 4,
                "v": seg[7 + 3 * c] & 15,
                "tq": seg[8 + 3 * c],
            }
            for c in range(seg[5])
        ]
    except IndexError as exc:
        raise ValueError("truncated JPEG SOF header") from exc
    return hgt, wid, comps


def _jpeg_entropy_segment(buf: bytes, dpos: int):
    """Unstuff one entropy-coded segment starting at ``dpos``: returns
    (data bytes with FF00 unstuffed, restart-marker byte positions
    within data, position of the terminating marker in ``buf``)."""
    n = len(buf)
    data = bytearray()
    rst_at: list[int] = []
    j = dpos
    while j < n:
        b = buf[j]
        if b == 0xFF:
            nxt = buf[j + 1] if j + 1 < n else 0
            if nxt == 0x00:
                data.append(0xFF)
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                rst_at.append(len(data))
                j += 2
                continue
            break
        data.append(b)
        j += 1
    return bytes(data), rst_at, j


def _jpeg_finish(planes, comps, hgt, wid, hmax, vmax, dri, *, progressive=False):
    """Upsample component planes by replication, BT.601 convert when
    3-component, clip to [0, 255] — the shared tail of the baseline
    and progressive decoders."""
    ups = []
    for ci, c in enumerate(comps):
        p = np.repeat(
            np.repeat(planes[ci], vmax // c["v"], axis=0),
            hmax // c["h"],
            axis=1,
        )
        ups.append(p[:hgt, :wid])
    if len(comps) == 1:
        img = np.clip(np.rint(ups[0]), 0, 255).astype(np.int64)
    else:
        y, cb, cr = ups
        img = np.clip(
            np.rint(
                np.stack(
                    [
                        y + 1.402 * (cr - 128.0),
                        y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                        y + 1.772 * (cb - 128.0),
                    ],
                    axis=-1,
                )
            ),
            0,
            255,
        ).astype(np.int64)
    header = {
        "width": wid,
        "height": hgt,
        "n_components": len(comps),
        "sampling": [(c["h"], c["v"]) for c in comps],
        "restart_interval": dri,
        "progressive": progressive,
    }
    return img, header


def decode_jpeg(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode a JPEG blob → (int64 pixel array, header dict):
    (H, W) for grayscale, (H, W, 3) RGB otherwise. Supports arbitrary
    h/v sampling factors (4:4:4, 4:2:0, 4:2:2, ...), multiple
    DQT/DHT segments, FF00 stuffing, and DRI restart markers. A
    progressive stream (SOF2) dispatches to
    :func:`_decode_jpeg_progressive`; the non-DCT SOF markers
    (lossless/hierarchical/arithmetic) raise."""
    if buf[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG stream")
    n = len(buf)
    i = 2
    qts: dict[int, np.ndarray] = {}
    huffs: dict = {}
    frame = None
    dri = 0
    scan = None
    while i < n - 1:
        if buf[i] != 0xFF:
            i += 1
            continue
        m = buf[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        ln = int.from_bytes(buf[i + 2 : i + 4], "big")
        seg = buf[i + 4 : i + 2 + ln]
        if m == 0xDB:
            _jpeg_parse_dqt(seg, qts)
        elif m == 0xC4:
            _jpeg_parse_dht(seg, huffs)
        elif m in (0xC0, 0xC1):
            hgt, wid, comps = _jpeg_parse_sof_components(seg)
            frame = (hgt, wid, comps)
        elif m == 0xC2:
            # progressive DCT: its own scan loop (spectral selection +
            # successive approximation over a persistent coefficient
            # store), restarted from the top of the stream
            return _decode_jpeg_progressive(buf)
        elif 0xC3 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                f"unsupported JPEG SOF marker 0xff{m:02x} "
                "(baseline/progressive only)"
            )
        elif m == 0xDD:
            dri = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:
            try:
                smap = {
                    seg[1 + 2 * c]: (
                        seg[2 + 2 * c] >> 4,
                        seg[2 + 2 * c] & 15,
                    )
                    for c in range(seg[0])
                }
            except IndexError as exc:
                raise ValueError("truncated JPEG SOS header") from exc
            scan = (smap, i + 2 + ln)
            break
        i += 2 + ln
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    hgt, wid, comps = frame
    smap, dpos = scan
    data, rst_at, _ = _jpeg_entropy_segment(buf, dpos)
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux, mcuy = -(-wid // (8 * hmax)), -(-hgt // (8 * vmax))
    planes = [
        np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64)
        for c in comps
    ]
    br = _JpegBitReader(bytes(data))
    preds = [0] * len(comps)
    rk = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                br.align()
                if rk < len(rst_at):
                    br.i = rst_at[rk]
                    rk += 1
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dct_t = huffs[(0, smap[c["id"]][0])]
                act_t = huffs[(1, smap[c["id"]][1])]
                q = qts[c["tq"]]
                for bv in range(c["v"]):
                    for bh in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        s = br.huff(dct_t)
                        preds[ci] += _jpeg_extend(br.bits(s), s)
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = br.huff(act_t)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            zz[k] = _jpeg_extend(br.bits(s), s)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[_JPEG_ZZ] = (zz * q).astype(np.float64)
                        blk = _JPEG_A.T @ coef.reshape(8, 8) @ _JPEG_A + 128.0
                        y0 = (my * c["v"] + bv) * 8
                        x0 = (mx * c["h"] + bh) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = blk
            mcu_count += 1
    return _jpeg_finish(planes, comps, hgt, wid, hmax, vmax, dri)


def _decode_jpeg_progressive(buf: bytes) -> tuple[np.ndarray, dict]:
    """Decode a progressive JPEG (SOF2) blob → (int64 pixels, header).

    Full T.81 progressive model: every SOS is a spectral band
    [Ss, Se] at successive-approximation precision (Ah, Al) updating a
    persistent per-block zigzag coefficient store — DC first/refine
    (interleaved or single-component), AC first with EOB-run coding,
    AC refinement with correction bits; DRI restarts resync each scan.
    Reconstruction (dequantize → IDCT → upsample → BT.601) is shared
    with the baseline decoder."""
    if buf[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG stream")
    n = len(buf)
    i = 2
    qts: dict[int, np.ndarray] = {}
    huffs: dict = {}
    frame = None
    dri = 0
    coefs: list[np.ndarray] = []
    nat_blocks: list[tuple[int, int]] = []  # per-comp non-interleaved dims
    saw_scan = False

    while i < n - 1:
        if buf[i] != 0xFF:
            i += 1
            continue
        m = buf[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            break
        ln = int.from_bytes(buf[i + 2 : i + 4], "big")
        seg = buf[i + 4 : i + 2 + ln]
        if m == 0xDB:
            _jpeg_parse_dqt(seg, qts)
        elif m == 0xC4:
            _jpeg_parse_dht(seg, huffs)
        elif m == 0xC2:
            hgt, wid, comps = _jpeg_parse_sof_components(seg)
            frame = (hgt, wid, comps)
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux, mcuy = -(-wid // (8 * hmax)), -(-hgt // (8 * vmax))
            for c in comps:
                # full (interleaved-padded) store; non-interleaved
                # scans only touch the ceil(component/8) prefix
                coefs.append(
                    np.zeros(
                        (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64
                    )
                )
                cw = -(-wid * c["h"] // hmax)
                chh = -(-hgt * c["v"] // vmax)
                nat_blocks.append((-(-chh // 8), -(-cw // 8)))
        elif (0xC0 <= m <= 0xCF) and m not in (0xC2, 0xC4, 0xC8, 0xCC):
            raise ValueError(
                f"unexpected JPEG SOF marker 0xff{m:02x} in progressive stream"
            )
        elif m == 0xDD:
            dri = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            try:
                ns = seg[0]
                scomps = [
                    (
                        seg[1 + 2 * c],
                        seg[2 + 2 * c] >> 4,
                        seg[2 + 2 * c] & 15,
                    )
                    for c in range(ns)
                ]
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            except IndexError as exc:
                raise ValueError("truncated JPEG SOS header") from exc
            data, rst_at, dend = _jpeg_entropy_segment(buf, i + 2 + ln)
            try:
                _jpeg_progressive_scan(
                    frame, coefs, nat_blocks, huffs, scomps, ss, se, ah,
                    al, data, rst_at, dri,
                )
            except IndexError as exc:
                # a truncated entropy segment can surface as a raw
                # sequence IndexError deep in the block procedures;
                # callers are documented to see ValueError
                raise ValueError("truncated JPEG entropy data") from exc
            saw_scan = True
            i = dend
            continue
        i += 2 + ln
    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF/SOS")
    hgt, wid, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for ci, c in enumerate(comps):
        q = qts[c["tq"]]
        bh, bw = coefs[ci].shape[:2]
        nat = np.zeros((bh, bw, 64), dtype=np.float64)
        nat[..., _JPEG_ZZ] = (coefs[ci] * q).astype(np.float64)
        blocks = np.einsum(
            "ij,xyjk,kl->xyil",
            _JPEG_A.T,
            nat.reshape(bh, bw, 8, 8),
            _JPEG_A,
        ) + 128.0
        planes.append(
            blocks.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
    return _jpeg_finish(
        planes, comps, hgt, wid, hmax, vmax, dri, progressive=True
    )


def _jpeg_progressive_scan(
    frame, coefs, nat_blocks, huffs, scomps, ss, se, ah, al,
    data, rst_at, dri,
):
    """Decode ONE progressive entropy-coded segment into the
    coefficient store (T.81 G.2): the four block procedures are DC
    first / DC refine / AC first (EOB-run) / AC refine (correction
    bits)."""
    hgt, wid, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux, mcuy = -(-wid // (8 * hmax)), -(-hgt // (8 * vmax))
    cidx = {c["id"]: k for k, c in enumerate(comps)}
    br = _JpegBitReader(data)
    rk = 0
    preds = {cid: 0 for cid, _, _ in scomps}
    state = {"eobrun": 0}

    def dc_first(cf, cid, dct):
        s = br.huff(dct)
        preds[cid] += _jpeg_extend(br.bits(s), s)
        cf[0] = preds[cid] << al

    def dc_refine(cf):
        if br.bit():
            cf[0] |= 1 << al

    def ac_first(cf, act):
        if state["eobrun"]:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = br.huff(act)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += br.bits(r)
                return
            k += r
            if k > se:
                raise ValueError("JPEG AC index overflow")
            cf[k] = _jpeg_extend(br.bits(s), s) << al
            k += 1

    def _correct(cf, k, p1, m1):
        if br.bit() and (cf[k] & p1) == 0:
            cf[k] += p1 if cf[k] >= 0 else m1

    def ac_refine(cf, act):
        p1, m1 = 1 << al, -(1 << al)
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = br.huff(act)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r != 15:
                        state["eobrun"] = 1 << r
                        if r:
                            state["eobrun"] += br.bits(r)
                        break
                    # r == 15: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("JPEG AC refinement size != 1")
                    val = p1 if br.bit() else m1
                while k <= se:
                    if cf[k] != 0:
                        _correct(cf, k, p1, m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("JPEG AC refine overflow")
                    cf[k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if cf[k] != 0:
                    _correct(cf, k, p1, m1)
                k += 1
            state["eobrun"] -= 1

    def resync(unit):
        nonlocal rk
        if dri and unit and unit % dri == 0:
            br.align()
            if rk < len(rst_at):
                br.i = rst_at[rk]
                rk += 1
            for cid in preds:
                preds[cid] = 0
            state["eobrun"] = 0

    if ss == 0:
        # DC scan: interleaved MCU order (or single-component raster)
        if se != 0:
            raise ValueError("JPEG DC scan must have Se = 0")
        if len(scomps) > 1:
            unit = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    resync(unit)
                    for cid, td, _ta in scomps:
                        ci = cidx[cid]
                        c = comps[ci]
                        for bv in range(c["v"]):
                            for bh_ in range(c["h"]):
                                cf = coefs[ci][
                                    my * c["v"] + bv, mx * c["h"] + bh_
                                ]
                                if ah == 0:
                                    dc_first(cf, cid, huffs[(0, td)])
                                else:
                                    dc_refine(cf)
                    unit += 1
        else:
            cid, td, _ta = scomps[0]
            ci = cidx[cid]
            nbh, nbw = nat_blocks[ci]
            unit = 0
            for by in range(nbh):
                for bx in range(nbw):
                    resync(unit)
                    cf = coefs[ci][by, bx]
                    if ah == 0:
                        dc_first(cf, cid, huffs[(0, td)])
                    else:
                        dc_refine(cf)
                    unit += 1
    else:
        # AC scan: always single-component, component raster order
        if len(scomps) != 1:
            raise ValueError("JPEG progressive AC scan must be 1-component")
        cid, _td, ta = scomps[0]
        ci = cidx[cid]
        act = huffs[(1, ta)]
        nbh, nbw = nat_blocks[ci]
        unit = 0
        for by in range(nbh):
            for bx in range(nbw):
                resync(unit)
                cf = coefs[ci][by, bx]
                if ah == 0:
                    ac_first(cf, act)
                else:
                    ac_refine(cf, act)
                unit += 1


# ---------------------------------------------------------------------
# AVI / Motion-JPEG codec (the VIDEO leg of the multimodal brief; no
# reference counterpart). The container is public (Microsoft RIFF/AVI
# documentation, the same RIFF framing as WAV): 'RIFF'+'AVI ' holding
# a 'hdrl' LIST (avih main header + one 'strl' per stream with
# strh/strf) and a 'movi' LIST whose '00dc' chunks each carry one
# compressed frame — for the MJPG fourcc, one complete baseline JPEG,
# which :func:`decode_jpeg` already reads. So real video decode is
# container walk + the existing JPEG path; frame sampling (every_n /
# max_frames) happens at the CONTAINER level, before any entropy
# decode — the cheap seek a production frame-sampler does.
# ---------------------------------------------------------------------


def _avi_chunks(buf: bytes, start: int, end: int):
    """Iterate (fourcc, payload_start, payload_size) of RIFF subchunks
    in buf[start:end]; chunk payloads are word-aligned."""
    i = start
    while i + 8 <= end:
        fcc = buf[i : i + 4]
        size = int.from_bytes(buf[i + 4 : i + 8], "little")
        yield fcc, i + 8, size
        i += 8 + size + (size & 1)


def decode_avi_frames(buf: bytes) -> tuple[list[bytes], dict]:
    """Decode an AVI blob → (list of per-frame JPEG byte strings,
    header dict). Only the MJPG fourcc is supported — each '00dc'
    movi chunk is then a standalone baseline JPEG."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI stream")
    header: dict = {}
    frames: list[bytes] = []
    compression = None
    for fcc, p, sz in _avi_chunks(buf, 12, len(buf)):
        if fcc != b"LIST":
            continue
        ltype = buf[p : p + 4]
        if ltype == b"hdrl":
            for f2, p2, s2 in _avi_chunks(buf, p + 4, p + sz):
                if f2 == b"avih":
                    header = {
                        "n_frames": int.from_bytes(buf[p2 + 16 : p2 + 20], "little"),
                        "n_streams": int.from_bytes(buf[p2 + 24 : p2 + 28], "little"),
                        "width": int.from_bytes(buf[p2 + 32 : p2 + 36], "little"),
                        "height": int.from_bytes(buf[p2 + 36 : p2 + 40], "little"),
                    }
                elif f2 == b"LIST" and buf[p2 : p2 + 4] == b"strl":
                    for f3, p3, s3 in _avi_chunks(buf, p2 + 4, p2 + s2):
                        if f3 == b"strf" and s3 >= 20:
                            compression = buf[p3 + 16 : p3 + 20]
        elif ltype == b"movi":
            for f2, p2, s2 in _avi_chunks(buf, p + 4, p + sz):
                if f2[2:4] in (b"dc", b"db"):
                    frames.append(buf[p2 : p2 + s2])
    if compression is not None and compression.upper() not in (b"MJPG", b"JPEG"):
        raise ValueError(
            f"unsupported AVI compression {compression!r} (MJPG only)"
        )
    if not frames:
        raise ValueError("AVI has no movi frames")
    header["compression"] = "MJPG"
    return frames, header


def encode_avi_mjpeg(frames, *, fps: int = 10, quant=None) -> bytes:
    """Encode a sequence of 2-D grayscale / (H, W, 3) RGB arrays as a
    Motion-JPEG AVI (the write side of the video seam and the tests'
    golden producer). Each frame is one :func:`encode_jpeg` blob in a
    '00dc' movi chunk."""
    frames = list(frames)
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    blobs = [encode_jpeg(f, quant=quant) for f in frames]

    def chunk(fcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return fcc + len(payload).to_bytes(4, "little") + payload + pad

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", ltype + payload)

    u4 = lambda v: int(v).to_bytes(4, "little")
    maxb = max(len(b) for b in blobs)
    avih = (
        u4(1_000_000 // fps) + u4(maxb * fps) + u4(0) + u4(0x10)  # HASINDEX off
        + u4(len(blobs)) + u4(0) + u4(1) + u4(maxb)
        + u4(w) + u4(h) + u4(0) * 4
    )
    strh = (
        b"vids" + b"MJPG" + u4(0) + u4(0) + u4(0)
        + u4(1) + u4(fps) + u4(0) + u4(len(blobs)) + u4(maxb)
        + (0xFFFFFFFF).to_bytes(4, "little") + u4(0)
        + (0).to_bytes(2, "little") * 2
        + int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
    )
    strf = (
        u4(40) + u4(w) + u4(h) + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little") + b"MJPG" + u4(w * h * 3)
        + u4(0) + u4(0) + u4(0) + u4(0)
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", b) for b in blobs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_video(
    assets: DataFrame,
    *,
    every_n: int = 1,
    max_frames: int | None = None,
) -> DataFrame:
    """Real distributed video decode: AVI/MJPEG blobs → sampled pixel
    rows (PIXEL_SCHEMA, ``frame`` = the frame's ORIGINAL index in the
    stream). Frame selection (``every_n``, ``max_frames`` — the
    frame_sample schedule) runs on the container walk BEFORE any
    entropy decode, so skipped frames cost nothing but the chunk seek;
    each selected frame then rides the standard JPEG decode path
    (mapInPandas; 1 frame → H·W rows; no shuffle)."""
    from trx_spark.sources.imageds import ensure_executor_package

    sep = "\x1f"  # unit separator: cannot collide with a path char
    ensure_executor_package(assets.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from trx_spark.operators.multimodal import _avi_chunks, maybe_gunzip

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                raw = maybe_gunzip(bytes(row["content"]))
                if raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
                    raise ValueError("not an AVI stream")
                comp = None
                k = 0
                for fcc, p, sz in _avi_chunks(raw, 12, len(raw)):
                    if fcc != b"LIST":
                        continue
                    ltype = raw[p : p + 4]
                    if ltype == b"hdrl":
                        for f2, p2, s2 in _avi_chunks(raw, p + 4, p + sz):
                            if f2 == b"LIST" and raw[p2 : p2 + 4] == b"strl":
                                for f3, p3, s3 in _avi_chunks(raw, p2 + 4, p2 + s2):
                                    if f3 == b"strf" and s3 >= 20:
                                        comp = raw[p3 + 16 : p3 + 20]
                    elif ltype == b"movi":
                        for f2, p2, s2 in _avi_chunks(raw, p + 4, p + sz):
                            if f2[2:4] not in (b"dc", b"db"):
                                continue
                            if comp is not None and comp.upper() not in (
                                b"MJPG", b"JPEG",
                            ):
                                raise ValueError(
                                    f"unsupported AVI compression {comp!r}"
                                )
                            take = (k % every_n == 0) and (
                                max_frames is None
                                or k // every_n < max_frames
                            )
                            if take:
                                out.append(
                                    (
                                        f"{row['path']}{sep}{k}",
                                        bytearray(raw[p2 : p2 + s2]),
                                    )
                                )
                            k += 1
            yield _pd.DataFrame(out, columns=["path", "content"])

    frames = assets.select("path", "content").mapInPandas(
        extract, schema="path string, content binary"
    )
    px = decode_image(frames, codec="jpeg")
    return px.select(
        F.split_part(F.col("file"), F.lit(sep), F.lit(1)).alias("file"),
        F.split_part(F.col("file"), F.lit(sep), F.lit(2)).cast("int").alias("frame"),
        "y",
        "x",
        "intensity",
    )


# ---------------------------------------------------------------------
# WAV codec (RIFF PCM — the audio leg of the multimodal brief). The
# format is public and simple: 'RIFF' + size + 'WAVE', then chunks;
# 'fmt ' carries (audio_format, n_channels, sample_rate, bits); 'data'
# carries interleaved samples. PCM16/PCM8 and IEEE float32 decode with
# pure numpy — real, like the EDF/CBF image codecs. Compressed audio
# (mp3/ogg) stays behind the deterministic fake.
# ---------------------------------------------------------------------


def _g711_ulaw_table() -> np.ndarray:
    """All 256 µ-law reconstruction levels (ITU-T G.711 / the classic
    ulaw2linear): int16 linear values indexed by code byte."""
    c = np.arange(256)
    m = (~c) & 0xFF
    t = (((m & 0x0F) << 3) + 0x84) << ((m >> 4) & 0x07)
    return np.where(m & 0x80, 0x84 - t, t - 0x84).astype(np.int64)


def _g711_alaw_table() -> np.ndarray:
    """All 256 A-law reconstruction levels (G.711 alaw2linear)."""
    c = np.arange(256) ^ 0x55
    seg = (c & 0x70) >> 4
    t = (c & 0x0F) << 4
    t = np.where(seg == 0, t + 8, ((t + 0x108) << np.maximum(seg - 1, 0)))
    # A-law: SET sign bit means positive
    return np.where(c & 0x80, t, -t).astype(np.int64)


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE blob → (float64 samples [n, channels] in
    [-1, 1], sample_rate). PCM16/PCM8, IEEE float32, and the G.711
    companded formats (A-law = format 6, µ-law = format 7) decode."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = (
                int.from_bytes(body[0:2], "little"),  # audio format
                int.from_bytes(body[2:4], "little"),  # channels
                int.from_bytes(body[4:8], "little"),  # sample rate
                int.from_bytes(body[14:16], "little"),  # bits/sample
            )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    afmt, nch, rate, bits = fmt
    if afmt == 1 and bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif afmt == 1 and bits == 8:
        samples = (np.frombuffer(data, dtype="u1").astype(np.float64) - 128.0) / 128.0
    elif afmt == 3 and bits == 32:
        samples = np.frombuffer(data, dtype="<f4").astype(np.float64)
    elif afmt == 6 and bits == 8:  # G.711 A-law
        codes = np.frombuffer(data, dtype="u1")
        samples = _g711_alaw_table()[codes].astype(np.float64) / 32768.0
    elif afmt == 7 and bits == 8:  # G.711 µ-law
        codes = np.frombuffer(data, dtype="u1")
        samples = _g711_ulaw_table()[codes].astype(np.float64) / 32768.0
    else:
        raise ValueError(f"unsupported WAV format ({afmt}, {bits} bit)")
    n = len(samples) // nch
    return samples[: n * nch].reshape(n, nch), rate


def encode_wav(samples: np.ndarray, *, rate: int = 16000) -> bytes:
    """Encode float samples in [-1, 1] (1-D mono or [n, ch]) as PCM16
    RIFF/WAVE — the write side of the audio seam and the tests' golden
    producer."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    nch = arr.shape[1]
    pcm = np.clip(np.round(arr * 32768.0), -32768, 32767).astype("<i2")
    data = pcm.reshape(-1).tobytes()
    byte_rate = rate * nch * 2
    fmt = (
        (1).to_bytes(2, "little")
        + nch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (nch * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def encode_wav_g711(
    samples: np.ndarray, *, rate: int = 8000, law: str = "ulaw"
) -> bytes:
    """Encode float samples in [-1, 1] as a G.711-companded RIFF/WAVE
    (format 7 = µ-law, 6 = A-law). Each sample maps to its NEAREST
    reconstruction level (ties to the lower code), which is exactly
    what makes decode(encode(x)) the closest-level quantization the
    companding defines."""
    if law not in ("ulaw", "alaw"):
        raise ValueError("law must be 'ulaw' or 'alaw'")
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    nch = arr.shape[1]
    lin = np.clip(np.round(arr * 32768.0), -32768, 32767).reshape(-1)
    table = _g711_ulaw_table() if law == "ulaw" else _g711_alaw_table()
    order = np.argsort(table, kind="stable")
    levels = table[order].astype(np.float64)
    idx = np.searchsorted(levels, lin)
    idx = np.clip(idx, 1, len(levels) - 1)
    lo, hi = levels[idx - 1], levels[idx]
    pick = np.where(lin - lo <= hi - lin, idx - 1, idx)
    codes = order[pick].astype("u1")
    afmt = 7 if law == "ulaw" else 6
    fmt = (
        afmt.to_bytes(2, "little")
        + nch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * nch).to_bytes(4, "little")
        + nch.to_bytes(2, "little")
        + (8).to_bytes(2, "little")
    )
    data = codes.tobytes()
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        chunks += b"\x00"
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def image_census(assets: DataFrame) -> DataFrame:
    """Crawl-shaped image ingest census: one VERDICT row per file and
    NO exceptions — the text-ingest ``_corrupt_record`` contract
    applied to binary image columns. Each (path, content) blob is
    gunzipped, sniffed and decoded with the REAL codecs
    (:func:`decode_any`: every detector format plus sequential/Adam7
    PNG and baseline/progressive JPEG); any decode failure —
    truncation, CRC mismatch, unknown magic — becomes
    ``verdict='corrupt'`` DATA instead of a thrown task, so a wild-web
    batch with a bad file still yields complete per-file results.

    Output: (file, fmt, verdict, width, height, n_px, i_sum, i_wsum),
    sums over the integer Rec.601 luma plane, position-weighted by
    (y·width + x + 1) — the codec-gate exactness contract, so the
    census is oracle-hashable end to end.

    Scale: map-only (mapInPandas over the binary column, ONE row out
    per file, no shuffle, no pixel fan-out). The kernel imports the
    real codec module on the worker, so the package ships to the
    executors first (:func:`~trx_spark.sources.imageds.ensure_executor_package`)."""
    from trx_spark.sources.imageds import ensure_executor_package

    ensure_executor_package(assets.sparkSession)

    def census(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        from trx_spark.operators.multimodal import (
            decode_any,
            maybe_gunzip,
            png_luma,
            sniff_codec,
        )

        cols = [
            "file", "fmt", "verdict", "width", "height",
            "n_px", "i_sum", "i_wsum",
        ]
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                name = row["path"]
                fmt = "unknown"
                # broad catch BY CONTRACT: a census turns every decode
                # failure into a 'corrupt' verdict row — never a
                # thrown task that kills the batch
                try:
                    buf = maybe_gunzip(bytes(row["content"]))
                    fmt = sniff_codec(buf)
                except Exception:
                    rows.append((name, fmt, "corrupt", 0, 0, 0, 0, 0))
                    continue
                try:
                    img, _hdr = decode_any(buf)
                    lum = png_luma(img) if img.ndim == 3 else img
                    h, w = int(lum.shape[0]), int(lum.shape[1])
                    wts = (
                        _np.arange(h, dtype=_np.int64)[:, None] * w
                        + _np.arange(w, dtype=_np.int64)[None, :]
                        + 1
                    )
                    rows.append((
                        name, fmt, "ok", w, h, h * w,
                        int(lum.sum()), int((lum * wts).sum()),
                    ))
                except Exception:
                    rows.append((name, fmt, "corrupt", 0, 0, 0, 0, 0))
            yield _pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(
        census,
        schema=(
            "file string, fmt string, verdict string, width long, "
            "height long, n_px long, i_sum long, i_wsum long"
        ),
    )


def audio_frame_features(
    assets: DataFrame,
    *,
    frame: int = 512,
    hop: int = 256,
    codec: str = "wav",
) -> DataFrame:
    """Audio feature extraction (the audio leg of U1's shape): binary
    blob → per-frame rows (file, frame_idx, t_start_s, rms, zcr, peak)
    via mapInPandas — 1 file fans out to n_frames rows executor-side,
    no shuffle; downstream is ordinary relational analytics (VAD
    thresholds, clipping detection, silence trimming).

    ``codec="wav"`` is the REAL pure-numpy RIFF/PCM decode;
    ``codec="fake"`` synthesizes a deterministic waveform from the
    content hash (for compressed formats whose codecs are absent)."""
    if codec not in ("wav", "fake"):
        raise ValueError(f"unknown codec {codec!r}")

    from trx_spark.sources.imageds import ensure_executor_package

    ensure_executor_package(assets.sparkSession)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import numpy as _np
        import pandas as _pd

        from trx_spark.operators.multimodal import decode_wav

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                if codec == "wav":
                    samples, rate = decode_wav(bytes(row["content"]))
                    mono = samples.mean(axis=1)
                else:
                    seed = int.from_bytes(
                        _hl.sha256(bytes(row["content"])).digest()[:4], "big"
                    )
                    rng = _np.random.default_rng(seed)
                    rate = 16000
                    mono = rng.uniform(-0.5, 0.5, size=rate)
                n_frames = max(0, 1 + (len(mono) - frame) // hop) if len(mono) >= frame else 0
                recs = []
                for k in range(n_frames):
                    w = mono[k * hop : k * hop + frame]
                    rms = float(_np.sqrt(_np.mean(w * w)))
                    zcr = float(_np.mean(_np.signbit(w[1:]) != _np.signbit(w[:-1])))
                    recs.append(
                        (row["file"], k, k * hop / rate, rms, zcr, float(_np.max(_np.abs(w))))
                    )
                out.append(
                    _pd.DataFrame(
                        recs, columns=["file", "frame_idx", "t_start_s", "rms", "zcr", "peak"]
                    )
                )
            yield _pd.concat(out) if out else _pd.DataFrame(
                {"file": [], "frame_idx": [], "t_start_s": [], "rms": [], "zcr": [], "peak": []}
            )

    return assets.select("path", "content").withColumnRenamed("path", "file").mapInPandas(
        extract,
        schema="file string, frame_idx int, t_start_s double, rms double, zcr double, peak double",
    )


def frame_sample(
    assets: DataFrame,
    *,
    every_n: int = 10,
    max_frames: int = 8,
) -> DataFrame:
    """Video frame-sampling plumbing: emit (file, frame_idx) rows for the
    frames a decoder would extract — the schedule is computed relationally
    (no codec needed); the per-frame decode plugs in as decode_image."""
    idx = F.sequence(F.lit(0), F.lit((max_frames - 1) * every_n), F.lit(every_n))
    return assets.select(
        F.col("path").alias("file"), F.explode(idx).alias("frame_idx")
    )


def resize_pixels(
    pixels: DataFrame,
    *,
    factor: int,
    agg: str = "mean",
) -> DataFrame:
    """Block downsample of decoded pixel rows — the image-resize stage
    of a multimodal pipeline, expressed RELATIONALLY: output pixel
    (y//f, x//f) aggregates its f×f source block. No UDF, one keyed
    shuffle on (file, y, x); at 100 TB this is a map-side partial agg
    exactly like azimuthal integration (the engine's centerpiece plan).

    ``agg``: 'mean' (area-average, the usual anti-aliased downsample),
    'max' (max-pool) or 'sum'.
    """
    if agg not in ("mean", "max", "sum"):
        raise ValueError(f"unknown agg {agg!r}")
    fn = {"mean": F.avg, "max": F.max, "sum": F.sum}[agg]
    keys = ["file", "frame"] if "frame" in pixels.columns else ["file"]
    return (
        pixels.groupBy(
            *keys,
            (F.col("y") / factor).cast("int").alias("y"),
            (F.col("x") / factor).cast("int").alias("x"),
        )
        .agg(fn("intensity").alias("intensity"))
    )


def image_features(pixels: DataFrame) -> DataFrame:
    """Per-image feature extraction from decoded pixel rows: pixel
    count, intensity mean/min/max, population std, and the
    intensity-weighted centroid (the beam-center proxy). One
    groupBy(file) — map-side partials, a tiny shuffle, no UDF; the
    feature vector for downstream similarity/clustering stages.
    """
    w = F.col("intensity")
    keys = ["file", "frame"] if "frame" in pixels.columns else ["file"]
    return pixels.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_px"),
        F.avg(w).alias("mean_i"),
        F.min(w).alias("min_i"),
        F.max(w).alias("max_i"),
        F.stddev_pop(w).alias("std_i"),
        (F.sum(F.col("x") * w) / F.sum(w)).alias("centroid_x"),
        (F.sum(F.col("y") * w) / F.sum(w)).alias("centroid_y"),
    )


# ---------------------------------------------------------------------
# Perceptual image hashing (dHash) — image-grain near-dup detection
# ---------------------------------------------------------------------

_DHASH_SIDE = 8  # 8×8 difference bits from an 8×9 block-mean grid


def dhash64(pixels: DataFrame, *, src_shape: tuple[int, int]) -> DataFrame:
    """Difference hash (dHash, Krawetz's public construction): block-
    mean the image down to an 8×9 grid, set bit (gy·8+gx) iff
    cell(gy, gx) > cell(gy, gx+1). Invariant to any monotone global
    intensity rescale (comparisons survive gain changes — the common
    duplicate mode for detector images: same exposure at different
    gain/monitor), and one flipped bit per locally corrupted cell.

    Expressed RELATIONALLY like resize_pixels: one keyed partial-agg
    shuffle to the 72-cell grid, one equi-join of adjacent cells, one
    64-term bit sum — no UDF, per-image state is 72 rows whatever the
    detector resolution, so at 100 TB this is the azint plan shape.

    Output: (file[, frame], dhash) — one BIGINT per image.
    """
    src_h, src_w = src_shape
    keys = ["file", "frame"] if "frame" in pixels.columns else ["file"]
    gy = F.floor(F.col("y") * _DHASH_SIDE / F.lit(src_h)).cast("int")
    gx = F.floor(F.col("x") * (_DHASH_SIDE + 1) / F.lit(src_w)).cast("int")
    grid = (
        pixels.groupBy(*keys, gy.alias("gy"), gx.alias("gx"))
        .agg(F.avg("intensity").alias("m"))
    )
    right = grid.select(
        *keys,
        F.col("gy").alias("gy"),
        (F.col("gx") - 1).alias("gx"),
        F.col("m").alias("m_r"),
    )
    bits = grid.join(right, [*keys, "gy", "gx"]).select(
        *keys,
        F.when(
            F.col("m") > F.col("m_r"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(gy * {_DHASH_SIDE} + gx AS INT))"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("b"),
    )
    return bits.groupBy(*keys).agg(F.sum("b").alias("dhash"))


def image_neardup_groups(pixels: DataFrame, *, src_shape: tuple[int, int]) -> DataFrame:
    """Image near-dup grouping by exact perceptual-hash match: images
    (keyed by file, or (file, frame) for multi-frame stacks — a group
    can span frames of one file AND copies across files) are grouped on
    identical dHash, with the smallest (file[, frame]) elected keeper —
    the image-modality twin of `dedup_exact`. For Hamming-tolerant
    matching compose `dhash64` with the SimHash pigeonhole banding
    (`queries/textdata.simhash_neardup_pairs` pattern) instead of
    widening this exact group-by."""
    h = dhash64(pixels, src_shape=src_shape)
    keys = ["file", "frame"] if "frame" in pixels.columns else ["file"]
    agg = h.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min(F.struct(*keys)).alias("_keeper"),
    )
    return agg.select(
        "dhash",
        "n_images",
        *[F.col(f"_keeper.{k}").alias(f"keeper_{k}") for k in keys],
    )


# ---------------------------------------------------------------------
# Audio fingerprint — delta-sign over the frame-energy envelope
# ---------------------------------------------------------------------

_AFP_BITS = 64


def audio_fingerprint(frame_feats: DataFrame) -> DataFrame:
    """Perceptual audio fingerprint from the per-frame feature rows
    (`audio_frame_features` output): bit k is set iff the RMS envelope
    RISES between frame k and k+1 (the energy-delta-sign construction
    — the envelope shape survives global gain changes exactly like
    dHash survives brightness rescale). Uses the first `_AFP_BITS`+1
    frames; shorter clips simply set fewer bits.

    Relational all the way: one window ordered by frame_idx WITHIN the
    file (thousands of small partitions), one bit-sum groupBy — no
    UDF beyond the upstream decode.

    Output: (file, n_frames, afp) — one BIGINT per clip."""
    w = Window.partitionBy("file").orderBy("frame_idx")
    nxt = F.lead("rms").over(w)
    bits = (
        frame_feats.select("file", "frame_idx", "rms")
        # keep frame _AFP_BITS as the lead() source for bit _AFP_BITS-1,
        # then drop it below — otherwise the top bit's rms_next is
        # always NULL and the fingerprint silently loses a bit
        .filter(F.col("frame_idx") <= _AFP_BITS)
        .withColumn("rms_next", nxt)
        .filter(F.col("frame_idx") < _AFP_BITS)
        .withColumn(
            "b",
            F.when(
                F.col("rms_next") > F.col("rms"),
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(frame_idx AS INT))"),
            ).otherwise(F.lit(0).cast("long")),
        )
    )
    return bits.groupBy("file").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("b").alias("afp"),
    )


def audio_neardup_groups(frame_feats: DataFrame) -> DataFrame:
    """Clip near-dup grouping by exact fingerprint match — the audio
    twin of `image_neardup_groups` (gain-scaled re-encodes of the same
    recording collide; Hamming-tolerant matching composes with the
    SimHash banding pattern)."""
    return audio_fingerprint(frame_feats).groupBy("afp").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.min("file").alias("keeper_file"),
    )
