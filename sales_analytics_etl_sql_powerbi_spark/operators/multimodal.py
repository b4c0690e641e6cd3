"""Multimodal column plumbing (beyond-reference).

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, and runs decode / feature-extraction as plain
Python row functions (one payload in, one output tuple — or, for the
frame extractors, a list of them — out) behind ONE shared Arrow batch
runner, :func:`_map_docs`: a single ``mapInArrow`` per call that
converts each batch to Python values once and builds the output
columns once. Every ``attach_*``/``extract_*``/``resize_*`` leg is a
thin wrapper over that runner, so the Spark-side shape (schema,
partitioning, batch iteration) is shared and tested once.

:func:`multimodal_features` composes five legs (PPM features, PPM
resize, WAV features, PNG round trip, JPEG round trip) in ONE pass:
one projection generates the PPM and WAV payloads JVM-side, and one
``mapInArrow`` runs all five row functions per doc — no per-leg scan,
no per-leg Python node and no join.

Codecs: ``codec="ppm"`` is a REAL image decode path — binary P6
(portable pixmap) images are parsed header-and-pixels in Python,
resized with genuine nearest-neighbor sampling over the pixel grid,
and the results are oracle-hash-checked (the test payloads are
generated by a deterministic formula, so the DuckDB twin recomputes
every byte analytically). WAV is the REAL audio decode path
(round 10): :func:`decode_wav` walks the RIFF chunk structure and
decodes mono PCM16, and :func:`extract_audio_features` derives
integer-exact signal features under the same formula-twin hash
discipline. PNG is the REAL compressed-image path (round 10,
stdlib-only): :func:`encode_png` writes zlib-deflated CRC-chunked
truecolor images, :func:`decode_png` walks chunks with CRC
verification, inflates, and unfilters all five scanline filter
types; gated features are decode outputs (file size is
zlib-dependent and deliberately ungated). JPEG is the REAL
entropy-coded path (round 11): :func:`encode_jpeg` /
:func:`decode_jpeg` implement baseline-JFIF marker structure and
canonical Huffman entropy coding; the gate covers the integer-exact
prefix (through dequantized coefficients) and the float IDCT is the
one documented non-goal inside the format. MJPEG-in-AVI is the REAL
compressed-video path (round 12): :func:`encode_avi_mjpeg` /
:func:`decode_avi_mjpeg` walk the RIFF container (hdrl/strl/movi)
and feed each '00dc' frame through the real :func:`decode_jpeg`.
``codec="raw"`` is the byte-level stub; the remaining
``NotImplementedError`` boundary is inter-frame-predicted codecs
(H.264 etc.) — pyav is absent in this container; a real build swaps
``decode_payload``/``resize_payload`` internals, the Spark plumbing
is unchanged.

At scale: binary payloads ride the same parquet row groups; feature
extraction is embarrassingly parallel (mapInArrow, no shuffle), and
``spark.sql.files.maxPartitionBytes`` bounds per-task memory.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "attach_binary_payload",
    "media_payload",
    "decode_ppm",
    "decode_wav",
    "decode_png",
    "encode_png",
    "attach_png_payload",
    "extract_png_features",
    "PNG_FEATURE_SCHEMA",
    "PNG_FEATURES_SQL",
    "encode_jpeg",
    "decode_jpeg",
    "attach_jpeg_payload",
    "extract_jpeg_features",
    "JPEG_FEATURE_SCHEMA",
    "JPEG_FEATURES_SQL",
    "decode_y4m",
    "extract_y4m_frames",
    "Y4M_FRAME_SCHEMA",
    "Y4M_FRAMES_SQL",
    "encode_avi_mjpeg",
    "decode_avi_mjpeg",
    "attach_avi_payload",
    "extract_mjpeg_frames",
    "MJPEG_FRAME_SCHEMA",
    "MJPEG_FRAMES_SQL",
    "encode_flic",
    "decode_flic",
    "attach_flic_payload",
    "extract_flic_frames",
    "FLIC_FRAME_SCHEMA",
    "FLIC_FRAMES_SQL",
    "extract_features",
    "multimodal_features",
    "MULTIMODAL_FEATURES_SCHEMA",
    "extract_audio_features",
    "AUDIO_FEATURE_SCHEMA",
    "WAV_FEATURES_SQL",
    "resize_images",
    "resize_ppm",
    "sample_frames",
    "FEATURE_SCHEMA",
    "RESIZED_SCHEMA",
    "FRAME_SCHEMA",
    "MULTIMODAL_META_SQL",
    "RESIZE_SQL",
    "SAMPLE_FRAMES_SQL",
    "PPM_FEATURES_SQL",
    "PPM_RESIZE_SQL",
]

_TYPES = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
}


def _schema(spec: str) -> T.StructType:
    """All-nullable StructType from ``"name type, ..."`` (types in
    :data:`_TYPES`) — the output schemas of this module's legs."""
    return T.StructType(
        [
            T.StructField(name, _TYPES[typ])
            for name, typ in (field.split() for field in spec.split(","))
        ]
    )


#: ``width``/``height`` are filled by decoding codecs (ppm); NULL for
#: codec="raw"
FEATURE_SCHEMA = _schema(
    "doc_id long, n_bytes long, first_byte int, byte_checksum long,"
    " width int, height int"
)

#: (doc_id, payload) — what the Python-side generators emit
_PAYLOAD_SCHEMA = _schema("doc_id long, payload binary")


def _map_docs(
    df: DataFrame,
    inputs: list[str | Column],
    row_fn: Callable,
    schema: T.StructType,
    expand: bool = False,
) -> DataFrame:
    """The one Arrow batch runner behind every Python leg here.

    A single ``mapInArrow`` over ``doc_id`` plus ``inputs`` (column
    names or Columns): each batch is converted to Python values once,
    ``row_fn(*values)`` runs per input row (binary arrives as
    ``bytes``, NULL as ``None``) and returns the output row WITHOUT its
    leading ``doc_id`` as a tuple in ``schema`` order, or ``None`` to
    drop the row; with ``expand=True`` it returns a list of such tuples
    (0..n output rows per input row). The output columns are built
    once per batch from those tuples."""

    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for b in batches:
            rows = []
            for d, *vals in zip(*(c.to_pylist() for c in b.columns)):
                out = row_fn(*vals)
                if expand:
                    rows.extend((d, *r) for r in out)
                elif out is not None:
                    rows.append((d, *out))
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.select("doc_id", *inputs).mapInArrow(run, schema)


#: deterministic PPM test-image formula (shared by the Spark generator
#: and the DuckDB twins): image for doc d is w=4+d%5 × h=3+d%4, and
#: pixel byte i is (d·31 + i·7) mod 256
_PPM_W = "(4 + doc_id % 5)"
_PPM_H = "(3 + doc_id % 4)"

#: deterministic WAV test-clip formula (round 10, shared Spark/DuckDB):
#: clip for doc d is mono PCM16 @ 8 kHz with n = 32 + d%64 samples;
#: sample i is ((d·37 + i·11) mod 4096) − 2048 (symmetric around 0 so
#: sign features do real work)
_WAV_RATE = 8000
_WAV_N = "(32 + doc_id % 64)"
_WAV_SAMPLE = "((doc_id * 37 + {i} * 11) % 4096 - 2048)"

#: deterministic Y4M test-video formula (round 11, shared Spark/DuckDB):
#: video for doc d is C420 YUV4MPEG2, w=4+2·(d%3) × h=4+2·(d%2)
#: (even dims, so the 4:2:0 chroma planes are exact), 2+d%3 frames;
#: byte i of frame f is (d·17 + f·29 + i·5) mod 256 over the packed
#: Y+U+V plane buffer of w·h·3/2 bytes
_Y4M_W = "(4 + 2 * (doc_id % 3))"
_Y4M_H = "(4 + 2 * (doc_id % 2))"
_Y4M_NF = "(2 + doc_id % 3)"
#: w·h·3/2 with the division folded away (w=4+2a, h=4+2b →
#: w·h·3/2 = 6·(2+a)·(2+b)) — one string valid in BOTH engines
#: (Spark `div` vs DuckDB `//` never enters the formula)
_Y4M_FSZ = "(6 * (2 + doc_id % 3) * (2 + doc_id % 2))"
_Y4M_BYTE = "((doc_id * 17 + {f} * 29 + {i} * 5) % 256)"


def media_payload(media: str = "text") -> Column:
    """The payload Column of :func:`attach_binary_payload` for
    ``media`` — an expression over ``doc_id`` (and ``text`` for
    ``media="text"``), so several payloads can come out of one
    projection. Real pipelines read image/audio bytes from object
    storage; here the payload is deterministic:

    - ``media="text"``: the utf-8 text bytes (opaque-blob stand-in);
    - ``media="ppm"``: a VALID binary P6 image per doc — header +
      formula-generated RGB bytes, built entirely JVM-side
      (sequence → transform → unhex, no Python) so generation scales
      like any codegen projection. This is what the real ``ppm``
      decode path parses back;
    - ``media="wav"``: a VALID RIFF/WAVE mono-PCM16 clip (44-byte
      canonical header + formula samples), built the same way;
    - ``media="y4m"``: a VALID multi-frame C420 YUV4MPEG2 stream,
      built the same way.
    """
    if media == "ppm":
        header = F.concat(
            F.lit("P6\n"),
            F.expr(_PPM_W).cast("int").cast("string"),
            F.lit(" "),
            F.expr(_PPM_H).cast("int").cast("string"),
            F.lit("\n255\n"),
        )
        pixels_hex = F.expr(
            f"array_join(transform(sequence(0, int({_PPM_W} * {_PPM_H} * 3 - 1)),"
            " i -> lpad(hex((doc_id * 31 + i * 7) % 256), 2, '0')), '')"
        )
        return F.concat(F.encode(header, "UTF-8"), F.unhex(pixels_hex))
    if media == "wav":
        n = _WAV_N

        def le32(v: str) -> str:
            return (
                f"concat(lpad(hex(({v}) % 256), 2, '0'), "
                f"lpad(hex(({v}) div 256 % 256), 2, '0'), "
                f"lpad(hex(({v}) div 65536 % 256), 2, '0'), "
                f"lpad(hex(({v}) div 16777216 % 256), 2, '0'))"
            )

        # "WAVE" "fmt " LE32(16) fmt=1 ch=1 rate=8000 byterate=16000
        # block=2 bits=16 "data" — all static for this formula
        static_fmt = (
            "57415645" "666D7420" "10000000" "0100" "0100"
            "401F0000" "803E0000" "0200" "1000" "64617461"
        )
        s = _WAV_SAMPLE.format(i="i")
        samples_hex = (
            f"array_join(transform(sequence(0, int({n}) - 1), "
            f"i -> concat(lpad(hex(pmod({s}, 65536) % 256), 2, '0'), "
            f"lpad(hex(pmod({s}, 65536) div 256), 2, '0'))), '')"
        )
        return F.unhex(
            F.expr(
                f"concat('52494646', {le32(f'36 + 2 * {n}')}, "
                f"'{static_fmt}', {le32(f'2 * {n}')}, {samples_hex})"
            )
        )
    if media == "y4m":
        # ASCII stream header, then per frame a "FRAME\n" marker (hex
        # 4652414D450A) followed by the packed C420 plane bytes from
        # the shared formula
        header = F.concat(
            F.lit("YUV4MPEG2 W"),
            F.expr(_Y4M_W).cast("int").cast("string"),
            F.lit(" H"),
            F.expr(_Y4M_H).cast("int").cast("string"),
            F.lit(" F25:1 Ip A1:1 C420jpeg\n"),
        )
        byte_hex = (
            f"lpad(hex({_Y4M_BYTE.format(f='f', i='i')}), 2, '0')"
        )
        frames_hex = F.expr(
            f"array_join(transform(sequence(0, int({_Y4M_NF}) - 1), "
            f"f -> concat('4652414D450A', "
            f"array_join(transform(sequence(0, int({_Y4M_FSZ}) - 1), "
            f"i -> {byte_hex}), ''))), '')"
        )
        return F.concat(F.encode(header, "UTF-8"), F.unhex(frames_hex))
    return F.encode(F.col("text"), "UTF-8")


#: media → (mime, width, height) of the metadata struct; the image and
#: video generators carry their formula dimensions
_MEDIA_META = {
    "ppm": ("image/x-portable-pixmap", _PPM_W, _PPM_H),
    "wav": ("audio/wav", None, None),
    "y4m": ("video/x-yuv4mpeg", _Y4M_W, _Y4M_H),
}


def attach_binary_payload(docs: DataFrame, media: str = "text") -> DataFrame:
    """Opaque binary column + typed metadata struct: ``(doc_id,
    payload, meta)`` with the :func:`media_payload` payload and
    ``meta = (n_bytes, mime, width, height)``."""
    payload = media_payload(media)
    mime, w, h = _MEDIA_META.get(media, ("application/octet-stream", None, None))
    meta = F.struct(
        F.length(payload).cast("long").alias("n_bytes"),
        F.lit(mime).alias("mime"),
        (F.expr(w) if w else F.lit(None)).cast("int").alias("width"),
        (F.expr(h) if h else F.lit(None)).cast("int").alias("height"),
    )
    return docs.select("doc_id", payload.alias("payload"), meta.alias("meta"))


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Minimal REAL P6 decoder: magic, whitespace-delimited width/
    height/maxval, then raw RGB bytes (no comment lines — reject
    rather than misparse). Returns (width, height, pixels)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 ppm payload")
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        if i == j:
            raise ValueError("truncated ppm header")
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # the single whitespace byte after maxval
    w, h, maxval = tokens
    if w <= 0 or h <= 0:
        # round 14 (found by the codec fuzz): a header like "-1 -1"
        # used to slice 3·w·h > 0 bytes out of the body and return a
        # garbage (negative-dims) "image" — reject, never misparse
        raise ValueError("non-positive ppm dimensions")
    pixels = payload[i : i + 3 * w * h]
    if maxval != 255 or len(pixels) != 3 * w * h:
        raise ValueError("unsupported or truncated ppm body")
    return w, h, pixels


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Minimal REAL RIFF/WAVE parser: verifies the RIFF envelope
    (including the declared size), walks word-aligned chunks to find
    ``fmt `` and ``data``, accepts only uncompressed mono PCM16, and
    decodes the samples little-endian signed. Returns (sample_rate,
    n_channels, samples). Rejects rather than misparses — the same
    contract discipline as :func:`decode_ppm`."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    if int.from_bytes(payload[4:8], "little") != len(payload) - 8:
        raise ValueError("RIFF size field disagrees with payload length")
    fmt = data = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        csz = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + csz]
        if len(body) != csz:
            raise ValueError("truncated chunk body")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + csz + (csz % 2)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_fmt != 1 or bits != 16 or channels != 1:
        raise ValueError("only uncompressed mono PCM16 is supported")
    if rate <= 0:
        raise ValueError("non-positive sample rate")
    samples = [
        int.from_bytes(data[k : k + 2], "little", signed=True)
        for k in range(0, len(data) - len(data) % 2, 2)
    ]
    return rate, channels, samples


AUDIO_FEATURE_SCHEMA = _schema(
    "doc_id long, n_bytes long, sample_rate int, n_samples long,"
    " duration_ms long, sum_abs long, max_abs long, zero_crossings long"
)


def _wav_row(payload: bytes) -> tuple:
    """:data:`AUDIO_FEATURE_SCHEMA` row (minus doc_id) of one clip,
    through the REAL :func:`decode_wav` parse (rate read from the
    FILE, not the metadata): duration, total/peak amplitude and zero
    crossings ((a<0)≠(b<0) sign transitions), all integer-exact."""
    rate, _ch, s = decode_wav(payload)
    n = len(s)
    return (
        len(payload),
        rate,
        n,
        n * 1000 // rate,
        sum(abs(x) for x in s),
        max((abs(x) for x in s), default=0),
        sum(1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0)),
    )


def extract_audio_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction (:func:`_wav_row` per
    payload): integer-exact, so the oracle hash can cover the features
    without float tolerance."""
    return _map_docs(with_payload, ["payload"], _wav_row, AUDIO_FEATURE_SCHEMA)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal REAL PNG writer (stdlib-only): 8-bit truecolor RGB,
    non-interlaced, filter 0 scanlines, one zlib IDAT, CRC32 on every
    chunk. The generator side of the png codec path — runs inside
    ``mapInArrow`` (zlib is Python; the PPM generator stays the
    JVM-side scale demonstration)."""
    import struct
    import zlib

    if len(pixels) != 3 * width * height:
        raise ValueError("pixel buffer does not match dimensions")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = 3 * width
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Minimal REAL PNG decoder (stdlib-only): signature + chunk walk
    with CRC32 VERIFICATION on every chunk, IHDR validation (8-bit
    truecolor RGB, non-interlaced only — reject, never misparse),
    multi-IDAT concatenation, zlib inflate, and full scanline
    UNFILTERING for all five PNG filter types (None/Sub/Up/Average/
    Paeth) — so payloads from any conforming encoder decode, not just
    :func:`encode_png`'s filter-0 output. Returns (width, height,
    rgb bytes)."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i = 8
    ihdr = None
    idat = b""
    saw_iend = False
    while i + 8 <= len(payload):
        (clen,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + clen]
        if len(data) != clen or i + 12 + clen > len(payload):
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack(
            ">I", payload[i + 8 + clen : i + 12 + clen]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            saw_iend = True
            break
        i += 12 + clen
    if not saw_iend:
        # a storage-truncated file whose surviving chunks happen to be
        # intact must still reject — same strictness as decode_wav's
        # declared-size check
        raise ValueError("missing IEND chunk (truncated payload)")
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing or malformed IHDR")
    if not idat:
        raise ValueError("missing IDAT chunk")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8 or color != 2 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            "only 8-bit truecolor non-interlaced PNG is supported"
        )
    stride = 3 * w
    expected = h * (stride + 1)
    # bounded inflate: the expected size is known from the verified
    # IHDR, so cap decompression at expected+1 bytes — a crafted tiny
    # IDAT that would inflate to gigabytes (decompression bomb) is
    # rejected after at most one extra byte, never materialized
    try:
        raw = zlib.decompressobj().decompress(idat, expected + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT deflate stream: {e}") from e
    if len(raw) != expected:
        raise ValueError("decompressed size disagrees with dimensions")
    out = bytearray()
    prev = bytearray(stride)
    bpp = 3
    for y in range(h):
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        ftype = raw[y * (stride + 1)]
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown scanline filter {ftype}")
        out += row
        prev = row
    return w, h, bytes(out)


def _png_payload(d: int) -> bytes:
    """The formula image of doc ``d`` (the SAME one the PPM generator
    emits: w=4+d%5 × h=3+d%4, pixel byte i = (d·31+i·7) mod 256),
    written by :func:`encode_png`."""
    w, h = 4 + d % 5, 3 + d % 4
    return encode_png(w, h, bytes((d * 31 + i * 7) % 256 for i in range(3 * w * h)))


def attach_png_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) with a VALID PNG per doc (:func:`_png_payload`,
    Arrow-batched — zlib lives in Python). The oracle never
    decompresses anything: it recomputes the decoded FEATURES
    analytically from the formula, so a hash match proves the chunk
    walk, CRC checks, inflate, and unfiltering actually ran."""
    return _map_docs(docs, ["doc_id"], lambda d: (_png_payload(d),), _PAYLOAD_SCHEMA)


PNG_FEATURE_SCHEMA = _schema(
    "doc_id long, width int, height int, n_pixel_bytes long, pixel_checksum long"
)


def _png_row(payload: bytes) -> tuple:
    """:data:`PNG_FEATURE_SCHEMA` row (minus doc_id): dimensions from
    the verified IHDR, checksum over the DECODED rgb bytes (file size
    is zlib-dependent and deliberately not a gated feature)."""
    w, h, px = decode_png(payload)
    return w, h, len(px), sum(px) % 1_000_003


def extract_png_features(with_payload: DataFrame) -> DataFrame:
    """Real-decode feature pass for PNG payloads (:func:`_png_row`)."""
    return _map_docs(with_payload, ["payload"], _png_row, PNG_FEATURE_SCHEMA)


def png_features_sql() -> str:
    """DuckDB twin: features recomputed analytically from the shared
    formula — identical shape to ppm_features_sql's pixel part."""
    npix = f"({_PPM_W} * {_PPM_H} * 3)"
    pix_sum = (
        f"list_sum(list_transform(range(0, {npix}), "
        "i -> (doc_id * 31 + i * 7) % 256))"
    )
    return f"""
SELECT doc_id,
       cast({_PPM_W} AS INT) AS width,
       cast({_PPM_H} AS INT) AS height,
       cast({npix} AS BIGINT) AS n_pixel_bytes,
       cast({pix_sum} % 1000003 AS BIGINT) AS pixel_checksum
FROM documents
"""


PNG_FEATURES_SQL = png_features_sql()


# ---------------------------------------------------------------------------
# JPEG (round 11): REAL baseline-JFIF entropy codec, stdlib-only.
#
# Gate discipline (the integer-exact prefix): marker walk, DQT/SOF0/
# DHT/SOS parsing, canonical Huffman decode with 0xFF00 unstuffing,
# DC-difference reconstruction and DEQUANTIZATION are all exact
# integer operations — those are what the driver hash covers. The
# float IDCT (the only non-integer stage of baseline JPEG) is
# DELIBERATELY never run: features are defined on the dequantized
# coefficient blocks, so nothing float ever reaches the hash.
#
# The encoder writes spec-shaped files (SOI, JFIF APP0, DQT with the
# Annex-K luminance table, SOF0, two DHTs, SOS, stuffed entropy scan,
# EOI) from formula-chosen quantized coefficients; the decoder is
# fully table-driven (Huffman trees built from the DHT segment it
# parses, dequantization from the DQT it parses), so a hash match
# proves the bitstream round trip, not a shared lookup table.
# ---------------------------------------------------------------------------


def _zigzag_order() -> list[tuple[int, int]]:
    """The standard 8×8 zigzag scan, generated (not recited): walk
    anti-diagonals, alternating direction, (0,0),(0,1),(1,0),(2,0)…"""
    order: list[tuple[int, int]] = []
    for s in range(15):
        diag = [(y, s - y) for y in range(8) if 0 <= s - y < 8]
        if s % 2 == 0:
            diag.reverse()
        order.extend(diag)
    return order


#: ITU T.81 Annex K.1 luminance quantization table (natural order) —
#: public spec content, the table every baseline encoder ships
_JPEG_Q_NATURAL = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

#: the same table in ZIGZAG order (what DQT stores and what scan
#: coefficients index) — derived, not hand-permuted
_JPEG_QZ = [
    _JPEG_Q_NATURAL[r * 8 + c] for (r, c) in _zigzag_order()
]

#: Huffman table specs (BITS[1..16] code-length counts + symbol list),
#: canonical per T.81 — compact tables covering every symbol the
#: generator formula can emit; the decoder rebuilds codes from the
#: DHT bytes it parses, so any conforming table would decode
_JPEG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))  # DC categories 0..11
_JPEG_AC_BITS = [0, 0, 7, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_AC_VALS = [0x00, 0x01, 0x02, 0x11, 0x12, 0x21, 0x22]  # EOB + (run,size)

#: deterministic JPEG test-image formula (shared by the Spark
#: generator and the DuckDB twin): image for doc d is
#: (1+d%3)×(1+d%2) 8×8 blocks; block b carries quantized DC
#: (d·7+b·13)%64−32 and one quantized AC of (d·3+b)%7−3 at zigzag
#: position 1+(d+b)%3 (zero → pure-EOB block, exercising that path)
_JPEG_BW = "(1 + doc_id % 3)"
_JPEG_BH = "(1 + doc_id % 2)"


def _jpeg_formula_blocks(d: int) -> tuple[int, int, list[list[int]]]:
    """(width, height, quantized zigzag blocks) for doc ``d``."""
    bw, bh = 1 + d % 3, 1 + d % 2
    blocks = []
    for b in range(bw * bh):
        coeff = [0] * 64
        coeff[0] = (d * 7 + b * 13) % 64 - 32
        coeff[1 + (d + b) % 3] = (d * 3 + b) % 7 - 3
        blocks.append(coeff)
    return 8 * bw, 8 * bh, blocks


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol → (length, code)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (FF→FF00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            # pad the final byte with 1-bits (T.81 F.1.2.3)
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)


def _category(v: int) -> int:
    """DC/AC magnitude category: bit length of |v| (0 for 0)."""
    return abs(v).bit_length()


def encode_jpeg(width: int, height: int, blocks: list[list[int]]) -> bytes:
    """Minimal REAL baseline JFIF writer (stdlib-only): grayscale
    (1 component), 8×8-aligned dimensions, quantized coefficients
    supplied in zigzag order per raster-ordered block. Emits the full
    marker structure plus a canonical-Huffman entropy scan with byte
    stuffing — everything a conforming baseline decoder needs."""
    import struct

    if width % 8 or height % 8 or width <= 0 or height <= 0:
        raise ValueError("dimensions must be positive multiples of 8")
    if len(blocks) != (width // 8) * (height // 8):
        raise ValueError("block count does not match dimensions")

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, bytes([0x00]) + bytes(_JPEG_QZ))
    sof0 = seg(
        0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    )
    dht = seg(
        0xFFC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos_hdr = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")

    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _BitWriter()
    prev_dc = 0
    for coeff in blocks:
        if len(coeff) != 64:
            raise ValueError("each block must carry 64 zigzag coefficients")
        diff = coeff[0] - prev_dc
        prev_dc = coeff[0]
        s = _category(diff)
        length, code = dc_codes[s]
        w.put(code, length)
        if s:
            w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        run = 0
        emitted_to = 0
        for k in range(1, 64):
            v = coeff[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                raise ValueError(
                    "generator formula never needs ZRL; refuse to emit it"
                )
            s = _category(v)
            sym = (run << 4) | s
            if sym not in ac_codes:
                raise ValueError(f"AC symbol {sym:#x} outside the shipped table")
            length, code = ac_codes[sym]
            w.put(code, length)
            w.put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
            emitted_to = k
        if emitted_to != 63:
            length, code = ac_codes[0x00]  # EOB
            w.put(code, length)
    return (
        b"\xff\xd8" + app0 + dqt + sof0 + dht + sos_hdr + w.flush() + b"\xff\xd9"
    )


def decode_jpeg(payload: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Minimal REAL baseline JFIF decoder (stdlib-only): marker walk,
    DQT/SOF0/DHT/SOS parsing, canonical Huffman rebuild from the DHT
    bytes, entropy decode with 0xFF00 unstuffing, DC-difference
    reconstruction, and DEQUANTIZATION — the integer-exact prefix of
    the JPEG pipeline. Returns (width, height, n_components,
    dequantized zigzag blocks); the float IDCT is intentionally NOT
    part of this operator (documented stub boundary — features hash
    the exact coefficients instead). Grayscale baseline sequential
    only; rejects rather than misparses, same contract discipline as
    :func:`decode_png`/:func:`decode_wav`."""
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    i = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    scan = None
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        # standalone markers carry NO length field — reading one as
        # length-prefixed would misread two payload bytes as a segment
        # length (ADVICE r11). Baseline grayscale without restart
        # intervals never emits them outside the scan: reject.
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            raise ValueError("standalone TEM/RSTn marker outside an entropy scan")
        if marker in (0xD8, 0xD9):
            raise ValueError("stray SOI/EOI marker before the entropy scan")
        if marker in (0xC2, 0xC1, 0xC3):
            raise ValueError("only baseline sequential (SOF0) is supported")
        (seglen,) = struct.unpack(">H", payload[i + 2 : i + 4])
        body = payload[i + 4 : i + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT (possibly several tables)
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                tab = list(body[j + 1 : j + 65])
                if len(tab) != 64:
                    raise ValueError("truncated quant table")
                qtables[tq] = tab
                j += 65
        elif marker == 0xC0:  # SOF0
            # round 14 (found by the codec fuzz): a 5-8 byte SOF0 body
            # used to escape as struct.error / IndexError instead of
            # the documented ValueError reject
            if len(body) < 9:
                raise ValueError("truncated SOF0 segment")
            prec, h, w, nf = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nf != 1:
                raise ValueError("only single-component (grayscale) supported")
            cid, hv, tq = body[6], body[7], body[8]
            if hv != 0x11:
                raise ValueError("subsampling unsupported for grayscale")
            sof = (w, h, nf, tq)
        elif marker == 0xC4:  # DHT (possibly several tables)
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1 : j + 17])
                nsyms = sum(bits)
                vals = list(body[j + 17 : j + 17 + nsyms])
                if len(bits) != 16 or len(vals) != nsyms:
                    raise ValueError("truncated Huffman table")
                codes = _huff_codes(bits, vals)
                htables[(tc, th)] = {
                    (length, code): sym for sym, (length, code) in codes.items()
                }
                j += 17 + nsyms
        elif marker == 0xDA:  # SOS — entropy data follows
            if len(body) < 3:
                # round 14 (codec fuzz): body[0]/body[2] on a short
                # SOS body used to escape as IndexError
                raise ValueError("truncated SOS segment")
            ns = body[0]
            if ns != 1:
                raise ValueError("only single-scan grayscale supported")
            td, ta = body[2] >> 4, body[2] & 0x0F
            scan_start = i + 2 + seglen
            # unstuff until the next real marker
            data = bytearray()
            k = scan_start
            term = None
            while k < len(payload):
                bch = payload[k]
                if bch == 0xFF:
                    if k + 1 >= len(payload):
                        raise ValueError("truncated entropy scan")
                    nxt = payload[k + 1]
                    if nxt == 0x00:
                        data.append(0xFF)
                        k += 2
                        continue
                    term = nxt
                    break
                data.append(bch)
                k += 1
            if term is None:
                raise ValueError("entropy scan ran off the payload")
            scan = (td, ta, bytes(data), term)
            break
        i += 2 + seglen
    if sof is None:
        raise ValueError("missing SOF0 segment")
    if scan is None:
        raise ValueError("missing SOS segment")
    w, h, nf, tq = sof
    if w % 8 or h % 8:
        raise ValueError("partial MCUs unsupported (dims must be 8-aligned)")
    if tq not in qtables:
        raise ValueError("SOF references an undefined quant table")
    td, ta, data, term = scan
    if term != 0xD9:
        raise ValueError("scan terminated by a non-EOI marker")
    if (0, td) not in htables or (1, ta) not in htables:
        raise ValueError("SOS references an undefined Huffman table")
    dc_lut, ac_lut = htables[(0, td)], htables[(1, ta)]
    qt = qtables[tq]

    pos = 0  # bit cursor

    def bits_left() -> int:
        return len(data) * 8 - pos

    def take(n: int) -> int:
        nonlocal pos
        if bits_left() < n:
            raise ValueError("truncated entropy scan (bits exhausted)")
        v = 0
        for _ in range(n):
            v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        return v

    def huff(lut: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | take(1)
            length += 1
            sym = lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan")

    def extend(v: int, s: int) -> int:
        return v - ((1 << s) - 1) if v < (1 << (s - 1)) else v

    n_blocks = (w // 8) * (h // 8)
    blocks: list[list[int]] = []
    prev_dc = 0
    for _ in range(n_blocks):
        s = huff(dc_lut)
        diff = extend(take(s), s) if s else 0
        prev_dc += diff
        coeff = [0] * 64
        coeff[0] = prev_dc * qt[0]
        k = 1
        while k < 64:
            sym = huff(ac_lut)
            if sym == 0x00:  # EOB
                break
            run, s = sym >> 4, sym & 0x0F
            k += run
            if s == 0 and run == 15:  # ZRL
                k += 1
                continue
            if s == 0 or k >= 64:
                raise ValueError("coefficient index overflow in scan")
            coeff[k] = extend(take(s), s) * qt[k]
            k += 1
        blocks.append(coeff)
    if bits_left() >= 8:
        raise ValueError("trailing entropy data after the final block")
    return w, h, nf, blocks


def _jpeg_payload(d: int) -> bytes:
    return encode_jpeg(*_jpeg_formula_blocks(d))


def attach_jpeg_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) with a VALID baseline JFIF per doc — the
    formula coefficient blocks written by :func:`encode_jpeg`,
    Arrow-batched. The oracle never parses JPEG: it recomputes the
    decoded features analytically from the formula, so a hash match
    proves the marker walk, Huffman decode, unstuffing, DC
    reconstruction, and dequantization all actually ran."""
    return _map_docs(docs, ["doc_id"], lambda d: (_jpeg_payload(d),), _PAYLOAD_SCHEMA)


JPEG_FEATURE_SCHEMA = _schema(
    "doc_id long, width int, height int, n_components int, n_blocks long,"
    " dc_sum long, ac_sum long, ac_nonzero long"
)


def _jpeg_row(payload: bytes) -> tuple:
    """:data:`JPEG_FEATURE_SCHEMA` row (minus doc_id): dimensions and
    component count from the parsed SOF0, plus integer-exact sums over
    the DEQUANTIZED coefficient blocks (DC sum, AC sum, nonzero-AC
    count) — everything before the float IDCT, nothing after it."""
    w, h, nf, blocks = decode_jpeg(payload)
    return (
        w,
        h,
        nf,
        len(blocks),
        sum(c[0] for c in blocks),
        sum(sum(c[1:]) for c in blocks),
        sum(sum(1 for v in c[1:] if v) for c in blocks),
    )


def extract_jpeg_features(with_payload: DataFrame) -> DataFrame:
    """Real-decode feature pass for JPEG payloads (:func:`_jpeg_row`)."""
    return _map_docs(with_payload, ["payload"], _jpeg_row, JPEG_FEATURE_SCHEMA)


def jpeg_features_sql() -> str:
    """DuckDB twin: the decoded-feature values recomputed analytically
    from the shared formula — quant-table constants read from the SAME
    ``_JPEG_QZ`` the encoder ships in DQT, so nothing is recited
    twice. casts pin BIGINT (DuckDB list_sum would widen to HUGEINT)."""
    nb = f"({_JPEG_BW} * {_JPEG_BH})"
    dc = f"((doc_id * 7 + b * 13) % 64 - 32) * {_JPEG_QZ[0]}"
    acv = "((doc_id * 3 + b) % 7 - 3)"
    acq = (
        f"CASE (doc_id + b) % 3 WHEN 0 THEN {_JPEG_QZ[1]} "
        f"WHEN 1 THEN {_JPEG_QZ[2]} ELSE {_JPEG_QZ[3]} END"
    )
    return f"""
SELECT doc_id,
       cast(8 * {_JPEG_BW} AS INT) AS width,
       cast(8 * {_JPEG_BH} AS INT) AS height,
       cast(1 AS INT) AS n_components,
       cast({nb} AS BIGINT) AS n_blocks,
       cast(list_sum(list_transform(range(0, {nb}), b -> {dc})) AS BIGINT) AS dc_sum,
       cast(list_sum(list_transform(range(0, {nb}), b -> {acv} * {acq})) AS BIGINT) AS ac_sum,
       cast(list_sum(list_transform(range(0, {nb}),
            b -> CASE WHEN {acv} = 0 THEN 0 ELSE 1 END)) AS BIGINT) AS ac_nonzero
FROM documents
"""


JPEG_FEATURES_SQL = jpeg_features_sql()


# ---------------------------------------------------------------------------
# Y4M (round 11): REAL video-container path, stdlib-only. YUV4MPEG2 is
# an uncompressed, exactly-decodable container (ASCII stream header +
# FRAME-delimited planar YUV), so — like WAV in round 10 — the full
# decode is integer-exact and hash-gateable. The stated stub boundary
# narrows to COMPRESSED video codecs only.
# ---------------------------------------------------------------------------

_Y4M_MAGIC = b"YUV4MPEG2"


def decode_y4m(
    payload: bytes,
) -> tuple[int, int, tuple[int, int], str, list[bytes]]:
    """Minimal REAL YUV4MPEG2 parser: validates the magic, reads the
    tagged stream-header parameters (W/H required, F rate, C
    colorspace with the spec's 420 default), derives the exact frame
    size from the colorspace, then walks ``FRAME`` markers collecting
    each frame's packed plane bytes. Returns (width, height,
    (fps_num, fps_den), colorspace, frames). Rejects rather than
    misparses — truncated frames, bad markers, odd dimensions under
    4:2:0 subsampling, unknown colorspaces."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(_Y4M_MAGIC + b" "):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    fps = (0, 0)
    cs = "420jpeg"  # the spec default when no C tag is present
    for tag in payload[len(_Y4M_MAGIC) + 1 : nl].split(b" "):
        if not tag:
            continue
        key, val = tag[:1], tag[1:].decode("ascii", "replace")
        if key == b"W":
            w = int(val)
        elif key == b"H":
            h = int(val)
        elif key == b"F":
            num, den = val.split(":")
            fps = (int(num), int(den))
        elif key == b"C":
            cs = val
        # I (interlacing), A (aspect), X (extensions) don't affect
        # the byte layout of progressive streams — accepted, unused
    if w is None or h is None or w <= 0 or h <= 0:
        raise ValueError("missing or invalid W/H in stream header")
    if cs.startswith("420"):
        if w % 2 or h % 2:
            raise ValueError("odd dimensions under 4:2:0 subsampling")
        fsz = w * h * 3 // 2
    elif cs == "444alpha":
        # 4 planes (Y+U+V+A) — must match BEFORE the '444' prefix or
        # the frame walk under-sizes every frame (ADVICE r11)
        fsz = 4 * w * h
    elif cs.startswith("444"):
        fsz = 3 * w * h
    elif cs.startswith("mono"):
        fsz = w * h
    else:
        raise ValueError(f"unsupported colorspace {cs!r}")
    frames: list[bytes] = []
    i = nl + 1
    while i < len(payload):
        if payload[i : i + 5] != b"FRAME":
            raise ValueError("expected FRAME marker")
        fnl = payload.find(b"\n", i + 5)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        body = payload[fnl + 1 : fnl + 1 + fsz]
        if len(body) != fsz:
            raise ValueError("truncated frame body")
        frames.append(body)
        i = fnl + 1 + fsz
    return w, h, fps, cs, frames


Y4M_FRAME_SCHEMA = _schema(
    "doc_id long, frame_id int, width int, height int, n_frame_bytes long,"
    " frame_checksum long, frame_hex string"
)


def _frame_rows(w: int, h: int, frames: list[bytes]) -> list[tuple]:
    """:data:`Y4M_FRAME_SCHEMA` rows (minus doc_id) of decoded frames,
    with the frame BYTES as uppercase hex so the driver hash covers
    the full decoded content."""
    return [
        (k, w, h, len(fr), sum(fr) % 1_000_003, fr.hex().upper())
        for k, fr in enumerate(frames)
    ]


def _y4m_rows(payload: bytes) -> list[tuple]:
    w, h, _fps, _cs, frames = decode_y4m(payload)
    return _frame_rows(w, h, frames)


def extract_y4m_frames(with_payload: DataFrame) -> DataFrame:
    """Row-expanding frame extraction through the REAL
    :func:`decode_y4m` parse (dims read from the FILE header, frame
    boundaries from the FRAME markers): one row per decoded frame —
    same discipline as :func:`sample_frames`' frame_hex."""
    return _map_docs(
        with_payload, ["payload"], _y4m_rows, Y4M_FRAME_SCHEMA, expand=True
    )


def y4m_frames_sql() -> str:
    """DuckDB twin: per-frame values recomputed analytically from the
    shared formula (the oracle never touches the container bytes, so a
    hash match proves the header parse and frame walk ran)."""
    byte = _Y4M_BYTE.format(f="f", i="i")
    return f"""
SELECT doc_id, cast(f AS INT) AS frame_id,
       cast({_Y4M_W} AS INT) AS width,
       cast({_Y4M_H} AS INT) AS height,
       cast({_Y4M_FSZ} AS BIGINT) AS n_frame_bytes,
       cast(list_sum(list_transform(range(0, {_Y4M_FSZ}), i -> {byte}))
            % 1000003 AS BIGINT) AS frame_checksum,
       array_to_string(list_transform(range(0, {_Y4M_FSZ}),
                                      i -> right('0' || to_hex({byte}), 2)), '')
         AS frame_hex
FROM (SELECT doc_id, unnest(range(0, {_Y4M_NF})) AS f FROM documents) x
"""


Y4M_FRAMES_SQL = y4m_frames_sql()


# ---------------------------------------------------------------------------
# MJPEG-in-AVI (round 12): REAL compressed-video path, stdlib-only —
# the last codec stub falls the way PNG/JPEG/Y4M did. An AVI is a RIFF
# container (the WAV chunk discipline, nested): LIST hdrl carries the
# main header (avih: dims, frame count, stream count) and the stream
# list (strh: fccType/fccHandler, strf: BITMAPINFOHEADER), LIST movi
# carries one '00dc' chunk per frame — each chunk body a complete
# baseline JPEG that :func:`decode_jpeg` entropy-decodes. The gate
# hashes a canonical serialization of every DEQUANTIZED coefficient of
# every frame, so a match proves the RIFF walk, the movi frame split,
# AND the per-frame Huffman decode all ran. Reject-don't-misparse:
# truncated chunks/movi, non-'vids' stream, non-'MJPG' handler,
# frame-count mismatch, non-JPEG chunk bytes.
# ---------------------------------------------------------------------------

#: deterministic MJPEG test-video formula (shared Spark/DuckDB): doc d
#: has 2+d%3 JPEG frames of (1+d%3)×(1+d%2) 8×8 blocks; frame f block
#: b carries quantized DC (d·7+f·11+b·13)%64−32 and one quantized AC
#: of (d·3+f·5+b)%7−3 at zigzag position 1+(d+f+b)%3
_MJPEG_NF = "(2 + doc_id % 3)"


def _mjpeg_formula_blocks(d: int, f: int) -> tuple[int, int, list[list[int]]]:
    """(width, height, quantized zigzag blocks) for frame ``f`` of doc
    ``d`` — the JPEG still-image formula extended along the frame
    axis (same symbol alphabet, so the shipped Huffman tables cover
    every emitted code)."""
    bw, bh = 1 + d % 3, 1 + d % 2
    blocks = []
    for b in range(bw * bh):
        coeff = [0] * 64
        coeff[0] = (d * 7 + f * 11 + b * 13) % 64 - 32
        coeff[1 + (d + f + b) % 3] = (d * 3 + f * 5 + b) % 7 - 3
        blocks.append(coeff)
    return 8 * bw, 8 * bh, blocks


def encode_avi_mjpeg(
    width: int, height: int, jpeg_frames: list[bytes], fps: int = 25
) -> bytes:
    """Minimal REAL AVI/MJPEG writer (stdlib-only): RIFF 'AVI ' with a
    conforming hdrl (avih + one 'vids'/'MJPG' strl), a movi list of
    word-aligned '00dc' chunks (one complete JPEG each), and an idx1
    keyframe index — everything a conforming MJPEG player needs."""
    import struct

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    n = len(jpeg_frames)
    max_sz = max((len(fr) for fr in jpeg_frames), default=0)
    avih = chunk(
        b"avih",
        struct.pack(
            "<14I",
            1_000_000 // fps,  # dwMicroSecPerFrame
            max_sz * fps,      # dwMaxBytesPerSec
            0,                 # dwPaddingGranularity
            0x10,              # dwFlags: AVIF_HASINDEX
            n, 0, 1,           # dwTotalFrames, dwInitialFrames, dwStreams
            max_sz,            # dwSuggestedBufferSize
            width, height,
            0, 0, 0, 0,        # dwReserved
        ),
    )
    strh = chunk(
        b"strh",
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0, 0, 0, 0,        # dwFlags, wPriority, wLanguage, dwInitialFrames
            1, fps,            # dwScale, dwRate (rate/scale = fps)
            0, n,              # dwStart, dwLength
            max_sz, 0, 0,      # dwSuggestedBufferSize, dwQuality, dwSampleSize
        )
        + struct.pack("<4h", 0, 0, width, height),  # rcFrame
    )
    strf = chunk(
        b"strf",
        struct.pack(
            "<IiiHH4sIiiII",
            40, width, height, 1, 24,
            b"MJPG", width * height * 3, 0, 0, 0, 0,
        ),
    )
    strl = chunk(b"LIST", b"strl" + strh + strf)
    hdrl = chunk(b"LIST", b"hdrl" + avih + strl)
    movi_chunks = b""
    idx = b""
    # idx1 offsets point at each '00dc' fourcc, relative to the
    # position of the 'movi' list-type fourcc (the common convention)
    off = 4
    for fr in jpeg_frames:
        ck = chunk(b"00dc", fr)
        movi_chunks += ck
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(fr))
        off += len(ck)
    movi = chunk(b"LIST", b"movi" + movi_chunks)
    idx1 = chunk(b"idx1", idx)
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Minimal REAL AVI/MJPEG reader (stdlib-only): validates the RIFF
    envelope, parses avih (dims, declared frame count, stream count)
    and the stream header (must be 'vids' with handler 'MJPG'), walks
    the movi list collecting each '00dc'/'00db' chunk body, and checks
    the declared count against the frames found. Returns
    (width, height, jpeg_frames) — callers feed each frame through
    :func:`decode_jpeg`. Rejects rather than misparses, same contract
    discipline as the other codecs."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_sz,) = struct.unpack("<I", payload[4:8])
    if riff_sz + 8 != len(payload):
        raise ValueError("RIFF size does not match payload length")

    def walk(start: int, end: int):
        i = start
        while i < end:
            if i + 8 > end:
                raise ValueError("truncated chunk header")
            fourcc = payload[i : i + 4]
            (sz,) = struct.unpack("<I", payload[i + 4 : i + 8])
            body_end = i + 8 + sz
            if body_end > end:
                raise ValueError("chunk runs past its container")
            yield fourcc, i + 8, body_end
            i = body_end + (sz & 1)

    width = height = declared = handler = None
    frames: list[bytes] = []
    seen_movi = False
    for fourcc, s, e in walk(12, len(payload)):
        if fourcc != b"LIST":
            continue  # idx1 and other top-level chunks: accepted, unused
        ltype = payload[s : s + 4]
        if ltype == b"hdrl":
            for f2, s2, e2 in walk(s + 4, e):
                if f2 == b"avih":
                    if e2 - s2 < 56:
                        raise ValueError("truncated avih header")
                    v = struct.unpack("<14I", payload[s2 : s2 + 56])
                    declared, streams, width, height = v[4], v[6], v[8], v[9]
                    if streams != 1:
                        raise ValueError("exactly one stream supported")
                elif f2 == b"LIST" and payload[s2 : s2 + 4] == b"strl":
                    for f3, s3, e3 in walk(s2 + 4, e2):
                        if f3 == b"strh":
                            if e3 - s3 < 8:
                                raise ValueError("truncated strh header")
                            if payload[s3 : s3 + 4] != b"vids":
                                raise ValueError("stream is not video")
                            handler = payload[s3 + 4 : s3 + 8]
        elif ltype == b"movi":
            seen_movi = True
            for f2, s2, e2 in walk(s + 4, e):
                if f2 in (b"00dc", b"00db"):
                    frames.append(payload[s2:e2])
                else:
                    raise ValueError(
                        f"unexpected movi chunk {f2!r} (rec lists unsupported)"
                    )
    if width is None:
        raise ValueError("missing avih header")
    if handler is None:
        raise ValueError("missing video stream header")
    if handler != b"MJPG":
        raise ValueError(f"not an MJPEG stream (handler {handler!r})")
    if not seen_movi:
        raise ValueError("missing movi list")
    if declared != len(frames):
        raise ValueError(
            f"avih declares {declared} frames, movi carries {len(frames)}"
        )
    for fr in frames:
        if fr[:2] != b"\xff\xd8":
            raise ValueError("movi chunk body is not a JPEG (missing SOI)")
    return width, height, frames


def _avi_payload(d: int) -> bytes:
    frames = []
    w = h = 0
    for f in range(2 + d % 3):
        w, h, blocks = _mjpeg_formula_blocks(d, f)
        frames.append(encode_jpeg(w, h, blocks))
    return encode_avi_mjpeg(w, h, frames)


def attach_avi_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) with a VALID AVI/MJPEG per doc — the formula
    frames written by :func:`encode_jpeg` and containered by
    :func:`encode_avi_mjpeg`, Arrow-batched. The oracle never parses
    AVI or JPEG: it recomputes the decoded coefficients analytically
    from the formula, so a hash match proves the RIFF walk, frame
    split, and entropy decode all actually ran."""
    return _map_docs(docs, ["doc_id"], lambda d: (_avi_payload(d),), _PAYLOAD_SCHEMA)


MJPEG_FRAME_SCHEMA = Y4M_FRAME_SCHEMA


def _mjpeg_rows(payload: bytes) -> list[tuple]:
    import struct

    cw, ch, frames = decode_avi_mjpeg(payload)
    bufs = []
    for fr in frames:
        w, h, _nf, blocks = decode_jpeg(fr)
        if (w, h) != (cw, ch):
            raise ValueError("frame SOF0 dims disagree with the AVI header")
        try:
            bufs.append(b"".join(struct.pack(">h", v) for blk in blocks for v in blk))
        except struct.error:
            # foreign JPEGs can dequantize past int16 (big quant ×
            # category-10 AC) — reject, don't crash
            raise ValueError(
                "dequantized coefficient outside the int16 "
                "canonical-serialization range"
            ) from None
    return _frame_rows(cw, ch, bufs)


def extract_mjpeg_frames(with_payload: DataFrame) -> DataFrame:
    """Row-expanding frame extraction through the REAL
    :func:`decode_avi_mjpeg` container walk and per-frame
    :func:`decode_jpeg` entropy decode: one row per frame, with the
    frame's "decoded content" defined as the canonical big-endian
    int16 serialization of its dequantized zigzag coefficients (the
    integer-exact decode output — the same boundary the jpeg feature
    leg gates). ``frame_hex`` puts every coefficient under the driver
    hash; dims are cross-checked container-vs-SOF0."""
    return _map_docs(
        with_payload, ["payload"], _mjpeg_rows, MJPEG_FRAME_SCHEMA, expand=True
    )


def mjpeg_frames_sql() -> str:
    """DuckDB twin: per-frame dequantized coefficients recomputed
    analytically from the shared formula and serialized to the same
    canonical big-endian int16 hex — quant constants read from the
    SAME ``_JPEG_QZ`` the encoder ships in DQT. The oracle never
    touches the container or entropy bytes, so the hash match proves
    the RIFF walk + Huffman decode ran on the Spark side."""

    def dcv(b: str) -> str:
        return (
            f"(((doc_id * 7 + f * 11 + ({b}) * 13) % 64 - 32)"
            f" * {_JPEG_QZ[0]})"
        )

    def acv(b: str) -> str:
        return (
            f"(((doc_id * 3 + f * 5 + ({b})) % 7 - 3) * "
            f"(CASE (doc_id + f + ({b})) % 3 WHEN 0 THEN {_JPEG_QZ[1]} "
            f"WHEN 1 THEN {_JPEG_QZ[2]} ELSE {_JPEG_QZ[3]} END))"
        )

    def u16(v: str) -> str:  # two's-complement 16-bit
        return f"((({v}) % 65536 + 65536) % 65536)"

    nb = f"({_JPEG_BW} * {_JPEG_BH})"
    udc, uac = u16(dcv("b")), u16(acv("b"))
    bsum = f"({udc} // 256 + {udc} % 256 + {uac} // 256 + {uac} % 256)"
    # coefficient at flat index i: block b = i // 64, zigzag k = i % 64
    coeff_u = (
        f"(CASE WHEN i % 64 = 0 THEN {u16(dcv('i // 64'))} "
        f"WHEN i % 64 = 1 + (doc_id + f + i // 64) % 3 "
        f"THEN {u16(acv('i // 64'))} ELSE 0 END)"
    )
    return f"""
SELECT doc_id, cast(f AS INT) AS frame_id,
       cast(8 * {_JPEG_BW} AS INT) AS width,
       cast(8 * {_JPEG_BH} AS INT) AS height,
       cast(128 * {nb} AS BIGINT) AS n_frame_bytes,
       cast(list_sum(list_transform(range(0, {nb}), b -> {bsum}))
            % 1000003 AS BIGINT) AS frame_checksum,
       array_to_string(list_transform(range(0, 64 * {nb}),
                                      i -> lpad(to_hex({coeff_u}), 4, '0')), '')
         AS frame_hex
FROM (SELECT doc_id, unnest(range(0, {_MJPEG_NF})) AS f FROM documents) x
"""


MJPEG_FRAMES_SQL = mjpeg_frames_sql()


# ---------------------------------------------------------------------------
# FLIC (FLI/FLC) — the INTER-FRAME video leg (round 18 — VERDICT r17
# item 6). Every other video leg here is intra-only (Y4M raw frames,
# MJPEG independently-coded JPEGs); FLIC is the public Autodesk
# Animator format whose DELTA_FLC (SS2) chunks encode each frame as a
# PATCH against the previous frame — skip lines, skip pixels, then
# word-granular literal/replicate packets. Decoding it exercises the
# temporal-prediction shape (reconstruct frame k from frame k-1 plus
# residual ops) without a full H.264/VP9 entropy decoder; that
# boundary stays declared (see decode_stub) because conformant
# H.264/VP9 needs CABAC/bool-coder entropy decode, motion-compensated
# sub-pixel interpolation, and in-loop filters — a decoder project of
# its own, served in production by pyav/ffmpeg behind the SAME
# Arrow batch runner these legs pin.
# ---------------------------------------------------------------------------

_FLIC_MAGIC = 0xAF12  # FLC main-header magic
_FLIC_FRAME_MAGIC = 0xF1FA
_FLI_BRUN = 15  # intra: byte-run RLE of a full frame
_FLI_SS2 = 7  # inter: word-oriented delta vs the PREVIOUS frame

#: synthetic-content formulas (SQL-shared): frame 0 is BRUN-coded from
#: the base formula; delta frame f rewrites exactly the lines with
#: y % 3 == f % 3, so reconstructed pixel (x, y, f) comes from the
#: LAST frame that touched line y — closed-form, hence oracle-able.
_FLIC_W = "(8 + 2 * (doc_id % 3))"
_FLIC_H = "(4 + 2 * (doc_id % 2))"
_FLIC_NF = "(3 + doc_id % 2)"


def _flic_base_pixel(d: int, x: int, y: int) -> int:
    return (d * 13 + y * 7 + (x // 4) * 3) % 256


def _flic_delta_pixel(d: int, f: int, x: int, y: int) -> int:
    return (d * 5 + f * 17 + y * 7 + (x // 5) * 9) % 256


def _flic_dims(d: int) -> tuple[int, int, int]:
    return 8 + 2 * (d % 3), 4 + 2 * (d % 2), 3 + d % 2


def _brun_line(pixels: bytes) -> bytes:
    """One FLI_BRUN line: signed-size packets, POSITIVE size = one
    value byte replicated size times, NEGATIVE = -size literal bytes
    (note: the sign convention is the OPPOSITE of FLI_LC/SS2 packets).
    Greedy real RLE — runs ≥ 3 become replicate packets."""
    out = bytearray([0])  # historical packet-count byte (decoders ignore)
    i, n = 0, len(pixels)
    lit_start = i
    while i < n:
        run = 1
        while i + run < n and run < 127 and pixels[i + run] == pixels[i]:
            run += 1
        if run >= 3:
            while lit_start < i:  # flush pending literals
                take = min(127, i - lit_start)
                out += bytes([(-take) & 0xFF]) + pixels[lit_start:lit_start + take]
                lit_start += take
            out += bytes([run, pixels[i]])
            i += run
            lit_start = i
        else:
            i += run
    while lit_start < i:
        take = min(127, i - lit_start)
        out += bytes([(-take) & 0xFF]) + pixels[lit_start:lit_start + take]
        lit_start += take
    return bytes(out)


def _ss2_line_packets(pixels: bytes) -> bytes:
    """Full-line replacement as FLI_SS2 packets — the leading u16
    packet-count opcode, then (pixel-skip byte, signed word-count
    byte, payload) packets: POSITIVE count = count literal WORDS,
    NEGATIVE = one word replicated -count times. Word-granular by
    spec (SS2 requires even widths). Greedy real RLE: word runs ≥ 2
    become replicate packets."""
    words = [pixels[i:i + 2] for i in range(0, len(pixels), 2)]
    out = bytearray()
    n_packets = 0
    i, n = 0, len(words)
    while i < n:
        run = 1
        while i + run < n and run < 127 and words[i + run] == words[i]:
            run += 1
        if run >= 2:
            out += bytes([0, (-run) & 0xFF]) + words[i]
            i += run
        else:
            lit = i
            i += 1  # words[lit] starts no run (run == 1 above)
            while i < n and i - lit < 127:
                if i + 1 < n and words[i + 1] == words[i]:
                    break  # a run ≥ 2 starts at i — next packet's job
                i += 1
            out += bytes([0, i - lit]) + b"".join(words[lit:i])
        n_packets += 1
    return _u16le(n_packets) + bytes(out)


def _u16le(v: int) -> bytes:
    import struct

    return struct.pack("<H", v)


def encode_flic(d: int) -> bytes:
    """Deterministic REAL FLC for doc ``d``: 128-byte main header,
    frame 0 as FLI_BRUN (intra RLE), every later frame as FLI_SS2
    (delta vs previous: line skips + word packets rewriting exactly
    the lines with ``y % 3 == f % 3``)."""
    import struct

    w, h, nf = _flic_dims(d)
    frame_chunks = []
    for f in range(nf):
        if f == 0:
            body = b"".join(
                _brun_line(
                    bytes(_flic_base_pixel(d, x, y) for x in range(w))
                )
                for y in range(h)
            )
            sub = struct.pack("<IH", 6 + len(body), _FLI_BRUN) + body
        else:
            lines = [y for y in range(h) if y % 3 == f % 3]
            body = bytearray(_u16le(len(lines)))
            cur = 0
            for y in lines:
                if y > cur:  # line-skip opcode: negative u16, top bits 11
                    body += struct.pack("<H", (-(y - cur)) & 0xFFFF)
                body += _ss2_line_packets(
                    bytes(_flic_delta_pixel(d, f, x, y) for x in range(w))
                )
                cur = y + 1
            sub = struct.pack("<IH", 6 + len(body), _FLI_SS2) + bytes(body)
        frame_chunks.append(
            struct.pack("<IHH8x", 16 + len(sub), _FLIC_FRAME_MAGIC, 1) + sub
        )
    frames_blob = b"".join(frame_chunks)
    header = struct.pack(
        "<IHHHHHHI108x",
        128 + len(frames_blob),  # file size
        _FLIC_MAGIC,
        nf,
        w,
        h,
        8,  # depth: 8-bit indexed
        3,  # flags (spec: set to 3 by writers)
        40,  # speed, ms/frame
    )
    return header + frames_blob


def decode_flic(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Minimal REAL FLC reader (stdlib-only, public Autodesk Animator
    spec): validates the main header, walks each 0xF1FA frame chunk,
    decodes FLI_BRUN intra frames and applies FLI_SS2 deltas to the
    PREVIOUS frame buffer — temporal prediction for real. Returns
    (width, height, [w*h reconstructed pixel bytes per frame]).
    Rejects rather than misparses: unknown chunk types, packets past
    line bounds, odd widths for SS2, or a frame-count mismatch all
    raise."""
    import struct

    if len(payload) < 128:
        raise ValueError("truncated FLIC main header")
    size, magic, nf, w, h, depth = struct.unpack("<IHHHHH", payload[:14])
    if magic != _FLIC_MAGIC:
        raise ValueError(f"not an FLC payload (magic {magic:#06x})")
    if size != len(payload):
        raise ValueError("FLC size field does not match payload length")
    if depth != 8:
        raise ValueError("only 8-bit FLC supported")
    pos = 128
    prev: bytearray | None = None
    frames: list[bytes] = []
    while pos < len(payload):
        if pos + 16 > len(payload):
            raise ValueError("truncated frame header")
        fsize, fmagic, nchunks = struct.unpack(
            "<IHH", payload[pos:pos + 8]
        )
        if fmagic != _FLIC_FRAME_MAGIC:
            raise ValueError(f"bad frame magic {fmagic:#06x}")
        fend = pos + fsize
        if fend > len(payload):
            raise ValueError("frame chunk runs past payload")
        sp = pos + 16
        for _ in range(nchunks):
            if sp + 6 > fend:
                raise ValueError("truncated subchunk header")
            ssize, stype = struct.unpack("<IH", payload[sp:sp + 6])
            body = payload[sp + 6:sp + ssize]
            if sp + ssize > fend:
                raise ValueError("subchunk runs past its frame")
            if stype == _FLI_BRUN:
                prev = _decode_brun(body, w, h)
            elif stype == _FLI_SS2:
                if prev is None:
                    raise ValueError("SS2 delta before any intra frame")
                if w % 2:
                    raise ValueError("SS2 requires an even width")
                prev = _apply_ss2(body, prev, w, h)
            else:
                raise ValueError(f"unsupported FLIC chunk type {stype}")
            sp += ssize
        if prev is None:
            raise ValueError("frame produced no image")
        frames.append(bytes(prev))
        pos = fend
    if nf != len(frames):
        raise ValueError(
            f"header declares {nf} frames, stream carries {len(frames)}"
        )
    return w, h, frames


def _decode_brun(body: bytes, w: int, h: int) -> bytearray:
    out = bytearray()
    i = 0
    for _y in range(h):
        if i >= len(body):
            raise ValueError("BRUN body exhausted before every line")
        i += 1  # packet-count byte: historical, ignored by spec
        produced = 0
        while produced < w:
            if i >= len(body):
                raise ValueError("truncated BRUN packet")
            sz = body[i] - 256 if body[i] > 127 else body[i]
            i += 1
            if sz > 0:  # replicate one value byte sz times
                out += body[i:i + 1] * sz
                i += 1
                produced += sz
            elif sz < 0:  # -sz literal bytes
                out += body[i:i - sz]
                i += -sz
                produced += -sz
            else:
                raise ValueError("zero-size BRUN packet")
        if produced != w:
            raise ValueError("BRUN line overruns its width")
    return out


def _apply_ss2(body: bytes, prev: bytearray, w: int, h: int) -> bytearray:
    import struct

    out = bytearray(prev)
    if len(body) < 2:
        raise ValueError("truncated SS2 chunk")
    (n_lines,) = struct.unpack("<H", body[:2])
    i, y = 2, 0
    for _ in range(n_lines):
        while True:
            if i + 2 > len(body):
                raise ValueError("truncated SS2 opcode")
            (op,) = struct.unpack("<H", body[i:i + 2])
            i += 2
            top = op >> 14
            if top == 0b11:  # negative line-skip
                y += 0x10000 - op
            elif top == 0b00:  # packet count for this line
                n_packets = op
                break
            else:
                raise ValueError(
                    f"unsupported SS2 opcode {op:#06x} (last-pixel "
                    "opcodes need odd widths, never emitted here)"
                )
        if y >= h:
            raise ValueError("SS2 line index past frame height")
        x = 0
        for _p in range(n_packets):
            if i + 2 > len(body):
                raise ValueError("truncated SS2 packet")
            x += body[i]
            cnt = body[i + 1] - 256 if body[i + 1] > 127 else body[i + 1]
            i += 2
            base = y * w + x
            if cnt > 0:  # cnt literal words
                nbytes = 2 * cnt
                if x + nbytes > w or i + nbytes > len(body):
                    raise ValueError("SS2 literal packet past line bounds")
                out[base:base + nbytes] = body[i:i + nbytes]
                i += nbytes
                x += nbytes
            elif cnt < 0:  # one word replicated -cnt times
                nbytes = 2 * -cnt
                if x + nbytes > w or i + 2 > len(body):
                    raise ValueError("SS2 replicate packet past line bounds")
                out[base:base + nbytes] = body[i:i + 2] * -cnt
                i += 2
                x += nbytes
            else:
                raise ValueError("zero-count SS2 packet")
        y += 1
    return out


def attach_flic_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) with a VALID FLC per doc — frame 0 BRUN-coded
    from the base formula, later frames SS2 deltas touching exactly
    the ``y % 3 == f % 3`` lines. The oracle never parses FLC: it
    recomputes each RECONSTRUCTED frame analytically (last-writer
    closed form), so a hash match proves the delta chain was applied
    in order on the Spark side."""
    return _map_docs(docs, ["doc_id"], lambda d: (encode_flic(d),), _PAYLOAD_SCHEMA)


FLIC_FRAME_SCHEMA = Y4M_FRAME_SCHEMA


def extract_flic_frames(with_payload: DataFrame) -> DataFrame:
    """Row-expanding frame extraction through the REAL
    :func:`decode_flic` walk: one row per RECONSTRUCTED frame (intra
    decode + the whole delta chain up to it), ``frame_hex`` putting
    every reconstructed pixel byte under the driver hash."""
    return _map_docs(
        with_payload,
        ["payload"],
        lambda p: _frame_rows(*decode_flic(p)),
        FLIC_FRAME_SCHEMA,
        expand=True,
    )


def flic_frames_sql() -> str:
    """DuckDB twin: the reconstructed pixel at (x, y) of frame f is
    written by the LAST frame that touched line y — frame
    ``j = f - ((f - y%3) mod 3)`` when ``j ≥ 1`` (delta formula), else
    frame 0 (base formula). The oracle never parses FLC bytes, so the
    hash match proves the BRUN decode AND the ordered SS2 delta chain
    ran on the Spark side."""
    w, h, nf = _FLIC_W, _FLIC_H, _FLIC_NF
    yv, xv = f"(i // {w})", f"(i % {w})"
    j = f"(f - ((((f - {yv} % 3) % 3) + 3) % 3))"
    base = f"((doc_id * 13 + {yv} * 7 + ({xv} // 4) * 3) % 256)"
    delta = f"((doc_id * 5 + {j} * 17 + {yv} * 7 + ({xv} // 5) * 9) % 256)"
    px = f"(CASE WHEN {j} >= 1 THEN {delta} ELSE {base} END)"
    return f"""
SELECT doc_id, cast(f AS INT) AS frame_id,
       cast({w} AS INT) AS width, cast({h} AS INT) AS height,
       cast({w} * {h} AS BIGINT) AS n_frame_bytes,
       cast(list_sum(list_transform(range(0, {w} * {h}), i -> {px}))
            % 1000003 AS BIGINT) AS frame_checksum,
       array_to_string(list_transform(range(0, {w} * {h}),
                                      i -> lpad(to_hex({px}), 2, '0')), '')
         AS frame_hex
FROM (SELECT doc_id, unnest(range(0, {_FLIC_NF})) AS f FROM documents) x
"""


FLIC_FRAMES_SQL = flic_frames_sql()


def decode_stub(payload: bytes, codec: str = "raw") -> dict:
    """Per-payload decode. ``raw`` = byte-level features only;
    ``ppm`` = real header parse (width/height from the image, not from
    metadata). Compressed codecs raise — a real build plugs
    PIL/soundfile/pyav here."""
    if codec == "ppm":
        w, h, _ = decode_ppm(payload)
        return {
            "n_bytes": len(payload),
            "first_byte": payload[0],
            "byte_checksum": sum(payload) % 1_000_003,
            "width": w,
            "height": h,
        }
    if codec != "raw":
        raise NotImplementedError(
            f"media codec {codec!r} unavailable in this environment; "
            "'raw' (byte features) and 'ppm' (real P6 decode) are "
            "implemented here; audio via extract_audio_features "
            "(real RIFF/PCM16 decode), png via extract_png_features "
            "(real zlib/CRC/filter decode), jpeg via "
            "extract_jpeg_features (real baseline Huffman decode), "
            "y4m via extract_y4m_frames, mjpeg-in-avi via "
            "extract_mjpeg_frames (real RIFF walk + entropy decode), "
            "inter-frame video via extract_flic_frames (real FLC "
            "BRUN intra + SS2 temporal-delta decode). PERMANENT "
            "boundary: entropy-coded inter-frame codecs (H.264/VP9/"
            "AV1) — conformant decode needs CABAC/bool-coder entropy "
            "decoding, motion-compensated sub-pixel interpolation and "
            "in-loop filters, a decoder project in itself; production "
            "plugs pyav/ffmpeg behind the SAME mapInArrow plumbing "
            "(schema, batching, partitioning) these legs pin and gate."
        )
    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else None,
        "byte_checksum": sum(payload) % 1_000_003,
        "width": None,
        "height": None,
    }


def extract_features(with_payload: DataFrame, codec: str = "raw") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads
    (:func:`decode_stub` per payload) — the production shape for
    CPU-bound media work: swap ``decode_stub`` for a real decoder;
    partitioning, schema and batch iteration stay identical."""
    return _map_docs(
        with_payload,
        ["payload"],
        lambda p: tuple(decode_stub(p, codec).values()),
        FEATURE_SCHEMA,
    )


RESIZED_SCHEMA = _schema(
    "doc_id long, payload binary, n_bytes long, width int, height int, checksum long"
)


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize over the decoded pixel grid:
    output pixel (x, y) samples source pixel
    (x·src_w // width, y·src_h // height); returns the raw RGB bytes
    of the width×height result (3·w·h bytes, no header — the caller's
    schema carries the dimensions)."""
    sw, sh, px = decode_ppm(payload)
    out = bytearray()
    for y in range(height):
        sy = y * sh // height
        for x in range(width):
            sx = x * sw // width
            base = (sy * sw + sx) * 3
            out += px[base : base + 3]
    return bytes(out)


def resize_stub(payload: bytes, width: int, height: int, codec: str = "raw") -> bytes:
    """Per-payload resize. ``ppm`` = genuine pixel-grid nearest-
    neighbor (:func:`resize_ppm`); ``raw`` = strided byte downsample
    to ≤w·h bytes (opaque-blob stand-in). A real build plugs PIL's
    ``Image.resize`` for compressed codecs — the Spark plumbing (batch
    shape, output schema, metadata update) is what this module pins;
    only this function changes."""
    if codec == "ppm":
        return resize_ppm(payload, width, height)
    if codec != "raw":
        raise NotImplementedError(
            f"media codec {codec!r} unavailable in this environment; "
            "'raw' (strided bytes) and 'ppm' (real pixel resize) are implemented"
        )
    target = width * height
    if not payload:
        return b""
    stride = max(len(payload) // target, 1)
    return payload[::stride][:target]


def _resize_row(payload: bytes | None, width: int, height: int, codec: str):
    """:data:`RESIZED_SCHEMA` row (minus doc_id) of one payload, or
    None for a NULL/empty payload (dropped — mirrors the oracle's n>0
    gate)."""
    if not payload:
        return None
    rb = resize_stub(payload, width, height, codec)
    return rb, len(rb), width, height, sum(rb) % 1_000_003


def resize_images(
    with_payload: DataFrame, width: int = 8, height: int = 8, codec: str = "raw"
) -> DataFrame:
    """Arrow-batched resize over binary payloads (:func:`_resize_row`).

    One Python call per Arrow batch, no shuffle — the embarrassingly
    parallel media shape. Output carries the resized payload plus the
    updated dimensions and a checksum (the oracle compares the scalar
    projection; binary equality is pinned by unit test).
    """
    return _map_docs(
        with_payload,
        ["payload"],
        lambda p: _resize_row(p, width, height, codec),
        RESIZED_SCHEMA,
    )


FRAME_SCHEMA = _schema(
    # frame_hex: the frame BYTES as uppercase hex — puts the binary
    # content itself under the oracle's value hash, like resize's
    # payload_hex
    "doc_id long, frame_id int, n_frame_bytes long, frame_checksum long,"
    " frame_hex string"
)


def sample_frames(
    with_payload: DataFrame,
    frame_bytes: int = 64,
    every_n: int = 2,
    max_frames: int = 3,
) -> DataFrame:
    """Frame sampling: one row per kept frame (row-EXPANDING).

    Treats the payload as a sequence of ``frame_bytes`` chunks (a fake
    video container), keeps every ``every_n``-th frame up to
    ``max_frames`` — the decode-side sampling a video pipeline does
    before feature extraction. Output cardinality is data-dependent
    (0..max_frames rows per doc, none for a NULL payload), which a
    scalar UDF could not express.
    """

    def rows(b: bytes | None) -> list[tuple]:
        if b is None:
            return []
        frames = [b[i : i + frame_bytes] for i in range(0, len(b), frame_bytes)]
        return [
            (k * every_n, len(fr), sum(fr) % 1_000_003, fr.hex().upper())
            for k, fr in enumerate(frames[::every_n][:max_frames])
        ]

    return _map_docs(with_payload, ["payload"], rows, FRAME_SCHEMA, expand=True)


#: :func:`multimodal_features` output: the PPM features (source dims
#: as ``src_*``), the 8×8 PPM resize (its bytes as ``payload_hex``),
#: the WAV features, and the PNG and JPEG round-trip features
MULTIMODAL_FEATURES_SCHEMA = _schema(
    "doc_id long, n_bytes long, first_byte int, byte_checksum long,"
    " src_width int, src_height int,"
    " resized_bytes long, width int, height int, resized_checksum long,"
    " payload_hex string,"
    " wav_bytes long, sample_rate int, n_samples long, duration_ms long,"
    " sum_abs long, max_abs long, zero_crossings long,"
    " png_width int, png_height int, png_pixel_bytes long, png_checksum long,"
    " jpeg_width int, jpeg_height int, jpeg_components int, jpeg_blocks long,"
    " jpeg_dc_sum long, jpeg_ac_sum long, jpeg_ac_nonzero long"
)


def _multimodal_row(d: int, ppm: bytes, wav: bytes) -> tuple:
    rez = _resize_row(ppm, 8, 8, "ppm")
    return (
        *decode_stub(ppm, "ppm").values(),
        *((None,) * 5 if rez is None else (*rez[1:], rez[0].hex().upper())),
        *_wav_row(wav),
        *_png_row(_png_payload(d)),
        *_jpeg_row(_jpeg_payload(d)),
    )


def multimodal_features(docs: DataFrame) -> DataFrame:
    """Five codec legs per doc in ONE Arrow pass
    (:data:`MULTIMODAL_FEATURES_SCHEMA`, one row per doc).

    One projection generates each doc's P6 image and RIFF/WAVE clip
    JVM-side (:func:`media_payload`), then one ``mapInArrow`` runs the
    legs' row functions on them: the PPM decode
    (:func:`decode_stub`), the nearest-neighbor resize to 8×8
    (:func:`_resize_row`), the WAV decode (:func:`_wav_row`), and the
    PNG and JPEG encode→decode round trips of the same doc's formula
    image and blocks (:func:`_png_row`, :func:`_jpeg_row`). The values
    equal the standalone wrappers (:func:`extract_features`,
    :func:`resize_images`, :func:`extract_audio_features`,
    :func:`extract_png_features`, :func:`extract_jpeg_features`)
    left-joined on ``doc_id`` — the resize columns are NULL where the
    resize leg drops the row (empty payload), as the join leaves them —
    but with one scan, one Python node and no join. ``doc_id`` is the
    key: one output row per input row.
    """
    return _map_docs(
        docs,
        [F.col("doc_id"), media_payload("ppm"), media_payload("wav")],
        _multimodal_row,
        MULTIMODAL_FEATURES_SCHEMA,
    )


#: byte at 1-based position {p} of the utf-8 blob's hex encoding
_BYTE_AT = "cast(('0x' || substring(__hex, 2*({p}) - 1, 2)) AS INT)"


def resize_sql(width: int = 8, height: int = 8) -> str:
    """DuckDB twin of resize_images: scalar projection PLUS the resized
    payload itself as uppercase hex (``payload_hex``) — the driver's
    hash thereby covers the output BYTES, not just dims+checksum
    (Spark's ``hex(binary)`` and the reassembled DuckDB hex pairs are
    both uppercase)."""
    target = width * height
    idx = f"1 + i * greatest(__n // {target}, 1)"
    picked = (
        f"list_transform(range(0, least({target}, "
        f"cast(ceil(__n / cast(greatest(__n // {target}, 1) AS DOUBLE)) AS BIGINT))), "
        f"i -> {_BYTE_AT.format(p=idx)})"
    )
    return f"""
SELECT doc_id,
       cast(len({picked}) AS BIGINT) AS n_bytes,
       {width} AS width, {height} AS height,
       cast(coalesce(list_sum({picked}), 0) % 1000003 AS BIGINT) AS checksum,
       array_to_string(list_transform({picked},
                                      b -> right('0' || to_hex(b), 2)), '')
         AS payload_hex
FROM (
  SELECT doc_id, octet_length(encode(text)) AS __n, to_hex(encode(text)) AS __hex
  FROM documents WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
) b
"""


def sample_frames_sql(
    frame_bytes: int = 64, every_n: int = 2, max_frames: int = 3
) -> str:
    """DuckDB twin of sample_frames: frame grid → filter → byte math."""
    start = f"fid * {frame_bytes}"
    nfb = f"least({frame_bytes}, __n - {start})"
    checksum = (
        f"list_sum(list_transform(range(1, {nfb} + 1), "
        f"i -> {_BYTE_AT.format(p=f'{start} + i')}))"
    )
    return f"""
SELECT doc_id, cast(fid AS INT) AS frame_id,
       cast({nfb} AS BIGINT) AS n_frame_bytes,
       cast(coalesce({checksum}, 0) % 1000003 AS BIGINT) AS frame_checksum,
       substring(__hex, ({start}) * 2 + 1, ({nfb}) * 2) AS frame_hex
FROM (
  SELECT doc_id, __n, __hex,
         unnest(range(0, cast(ceil(__n / cast({frame_bytes} AS DOUBLE)) AS BIGINT))) AS fid
  FROM (SELECT doc_id, octet_length(encode(text)) AS __n, to_hex(encode(text)) AS __hex
        FROM documents WHERE text IS NOT NULL AND octet_length(encode(text)) > 0) b
) f
WHERE fid % {every_n} = 0 AND fid // {every_n} < {max_frames}
ORDER BY doc_id, frame_id
"""


RESIZE_SQL = resize_sql()
SAMPLE_FRAMES_SQL = sample_frames_sql()


def ppm_features_sql() -> str:
    """DuckDB twin of attach_binary_payload(media='ppm') →
    extract_features(codec='ppm'): because the test images are
    formula-generated, the twin recomputes header + every pixel byte
    ANALYTICALLY from doc_id — so a hash match proves the Python
    decoder parsed the real binary payload correctly (header length,
    dimensions, full-payload checksum)."""
    hdr = (
        f"('P6' || chr(10) || cast({_PPM_W} AS VARCHAR) || ' ' || "
        f"cast({_PPM_H} AS VARCHAR) || chr(10) || '255' || chr(10))"
    )
    hdr_sum = (
        f"list_sum(list_transform(range(1, length({hdr}) + 1), "
        f"i -> ord(substring({hdr}, i, 1))))"
    )
    npix = f"({_PPM_W} * {_PPM_H} * 3)"
    pix_sum = (
        f"list_sum(list_transform(range(0, {npix}), "
        "i -> (doc_id * 31 + i * 7) % 256))"
    )
    return f"""
SELECT doc_id,
       cast(length({hdr}) + {npix} AS BIGINT) AS n_bytes,
       cast(80 AS INT) AS first_byte,
       cast(({hdr_sum} + {pix_sum}) % 1000003 AS BIGINT) AS byte_checksum,
       cast({_PPM_W} AS INT) AS width,
       cast({_PPM_H} AS INT) AS height
FROM documents
"""


def ppm_resize_sql(width: int = 8, height: int = 8) -> str:
    """DuckDB twin of resize_images(codec='ppm'): replays the
    nearest-neighbor index arithmetic (sy = y·src_h // height,
    sx = x·src_w // width) over the formula pixels and re-assembles
    the resized RGB payload as hex — byte-for-byte coverage of the
    real resize output."""
    row_bytes = 3 * width
    n = 3 * width * height
    # k enumerates output bytes: y = k // (3·width), x = (k % (3·width)) // 3,
    # channel = k % 3; source byte index = (sy·src_w + sx)·3 + channel
    srcidx = (
        f"((((k // {row_bytes}) * {_PPM_H} // {height}) * {_PPM_W} + "
        f"((k % {row_bytes}) // 3) * {_PPM_W} // {width}) * 3 + k % 3)"
    )
    val = f"((doc_id * 31 + {srcidx} * 7) % 256)"
    return f"""
SELECT doc_id,
       cast({n} AS BIGINT) AS n_bytes,
       cast({width} AS INT) AS width, cast({height} AS INT) AS height,
       cast(list_sum(vals) % 1000003 AS BIGINT) AS checksum,
       array_to_string(list_transform(vals, b -> right('0' || to_hex(b), 2)), '')
         AS payload_hex
FROM (
  SELECT doc_id, list_transform(range(0, {n}), k -> {val}) AS vals
  FROM documents
) b
"""


def wav_features_sql() -> str:
    """DuckDB twin of attach_binary_payload(media='wav') →
    extract_audio_features: recomputes every feature ANALYTICALLY
    from the clip formula (n samples, 8 kHz, the sample expression) —
    a hash match therefore proves the Python RIFF walker parsed the
    real binary payload (envelope size, chunk walk, PCM16 LE signed
    decode) rather than echoing metadata."""
    n = _WAV_N
    v = "(doc_id * 37 + i * 11) % 4096 - 2048"
    return f"""
SELECT doc_id,
       cast(44 + 2 * {n} AS BIGINT) AS n_bytes,
       cast({_WAV_RATE} AS INT) AS sample_rate,
       cast({n} AS BIGINT) AS n_samples,
       cast({n} * 1000 // {_WAV_RATE} AS BIGINT) AS duration_ms,
       cast(list_sum(list_transform(vals, x -> abs(x))) AS BIGINT) AS sum_abs,
       cast(list_max(list_transform(vals, x -> abs(x))) AS BIGINT) AS max_abs,
       cast(list_sum(list_transform(range(1, {n}),
            i -> CASE WHEN (vals[i] < 0) <> (vals[i + 1] < 0)
                 THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings
FROM (
  SELECT doc_id, list_transform(range(0, {n}), i -> {v}) AS vals
  FROM documents
) w
"""


PPM_FEATURES_SQL = ppm_features_sql()
PPM_RESIZE_SQL = ppm_resize_sql()
WAV_FEATURES_SQL = wav_features_sql()

#: DuckDB twin of attach_binary_payload→extract_features over documents
#: (payload == utf-8 text bytes). Byte values come from the hex encoding
#: of the UTF-8 blob — ord(substring(...)) would give Unicode CODE
#: POINTS and character (not byte) positions, silently diverging from
#: the Python byte checksum on any non-ASCII text.
MULTIMODAL_META_SQL = """
SELECT doc_id,
  cast(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CASE WHEN octet_length(encode(text)) > 0
       THEN cast(('0x' || substring(to_hex(encode(text)), 1, 2)) AS INT) END
    AS first_byte,
  cast(coalesce(list_sum(list_transform(
         range(1, octet_length(encode(text)) + 1),
         i -> cast(('0x' || substring(to_hex(encode(text)), 2*i - 1, 2)) AS INT))),
       0) % 1000003 AS BIGINT) AS byte_checksum,
  cast(NULL AS INT) AS width, cast(NULL AS INT) AS height
FROM documents
"""
