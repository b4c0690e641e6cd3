"""Multimodal binary-column plumbing (decode stub + mapInPandas)."""

import pytest

from sales_analytics_etl_sql_powerbi_spark.operators import multimodal

DOCS = "doc_id long, text string"


def test_attach_payload_schema(spark):
    df = spark.createDataFrame([(1, "abc")], DOCS)
    out = multimodal.attach_binary_payload(df)
    assert [f.name for f in out.schema.fields] == ["doc_id", "payload", "meta"]
    r = out.first()
    assert bytes(r.payload) == b"abc"
    assert r.meta.n_bytes == 3
    assert r.meta.mime == "application/octet-stream"


def test_extract_features_values(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], DOCS)
    feats = {
        r.doc_id: r
        for r in multimodal.extract_features(
            multimodal.attach_binary_payload(df)
        ).collect()
    }
    assert feats[1].n_bytes == 3
    assert feats[1].first_byte == ord("a")
    assert feats[1].byte_checksum == (ord("a") + ord("b") + ord("c")) % 1_000_003
    assert feats[2].n_bytes == 0
    assert feats[2].first_byte is None


def test_non_raw_codec_raises():
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_stub(b"xx", codec="jpeg")


def test_sql_twin_byte_parity_non_ascii():
    """The DuckDB twin must checksum UTF-8 BYTES, not code points."""
    import duckdb

    rows = [(1, "café ✓"), (2, ""), (3, "plain ascii")]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(multimodal.MULTIMODAL_META_SQL).fetchall()
    }
    for doc_id, text in rows:
        b = text.encode("utf-8")
        want = multimodal.decode_stub(b)
        assert got[doc_id] == (want["n_bytes"], want["first_byte"], want["byte_checksum"])


def test_resize_strided_bytes_and_codec_gate(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, "x" * 200, "en"), (2, "", "en"), (3, None, "en")],
        "doc_id long, text string, lang string",
    )
    out = M.resize_images(M.attach_binary_payload(docs), width=4, height=4)
    rows = {r.doc_id: r for r in out.collect()}
    # 200 bytes → stride 12 → ceil(200/12)=17 capped at 16
    assert rows[1].n_bytes == 16 and (rows[1].width, rows[1].height) == (4, 4)
    assert bytes(rows[1].payload) == ("x" * 200).encode()[::12][:16]
    assert 2 not in rows and 3 not in rows  # empty/NULL payloads drop
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        M.resize_stub(b"abc", 2, 2, codec="jpeg")


def test_ppm_payload_is_valid_p6_and_decodes(spark):
    """attach_binary_payload(media='ppm') must emit REAL P6 binaries:
    the Python decoder parses them back and every pixel byte matches
    the generator formula."""
    df = spark.createDataFrame([(3, "ignored"), (7, None)], DOCS)
    rows = {
        r.doc_id: bytes(r.payload)
        for r in multimodal.attach_binary_payload(df, media="ppm").collect()
    }
    for d, payload in rows.items():
        w_want, h_want = 4 + d % 5, 3 + d % 4
        assert payload.startswith(b"P6\n")
        w, h, px = multimodal.decode_ppm(payload)
        assert (w, h) == (w_want, h_want)
        assert list(px) == [(d * 31 + i * 7) % 256 for i in range(3 * w * h)]


def test_extract_features_ppm_reads_dims_from_image(spark):
    df = spark.createDataFrame([(6, "x")], DOCS)
    wp = multimodal.attach_binary_payload(df, media="ppm")
    r = multimodal.extract_features(wp, codec="ppm").first()
    # doc 6 → 4+6%5=5 wide, 3+6%4=5 high; first byte 'P'
    assert (r.width, r.height) == (5, 5)
    assert r.first_byte == ord("P")
    payload = bytes(wp.first().payload)
    assert r.n_bytes == len(payload)
    assert r.byte_checksum == sum(payload) % 1_000_003


def test_resize_ppm_nearest_neighbor_reference():
    """Hand-checkable 2×2 → genuine nearest-neighbor sampling."""
    # 2×2 image, pixels (r,g,b) = (0,1,2),(3,4,5),(6,7,8),(9,10,11)
    payload = b"P6\n2 2\n255\n" + bytes(range(12))
    out = multimodal.resize_ppm(payload, 4, 4)
    # output (x,y) samples source (x*2//4, y*2//4) = (x//2, y//2)
    want = bytearray()
    for y in range(4):
        for x in range(4):
            base = ((y // 2) * 2 + (x // 2)) * 3
            want += bytes(range(12))[base : base + 3]
    assert out == bytes(want)
    # upsample path: 1×1 source → every output pixel is the source pixel
    one = b"P6\n1 1\n255\n" + bytes([9, 8, 7])
    assert multimodal.resize_ppm(one, 3, 2) == bytes([9, 8, 7]) * 6


def test_decode_ppm_rejects_malformed():
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5\n1 1\n255\n\x00")  # wrong magic
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n2 2\n255\n\x00\x00")  # truncated body
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6\n1 1\n15\n\x00\x00\x00")  # maxval != 255


def test_ppm_sql_twins_match_python_path(spark):
    """The analytic DuckDB twins must reproduce the REAL decode/resize
    byte-for-byte (payload hex included) on live generated payloads."""
    import duckdb

    df = spark.createDataFrame([(i, "t") for i in range(12)], DOCS)
    wp = multimodal.attach_binary_payload(df, media="ppm")
    feats = {
        r.doc_id: r for r in multimodal.extract_features(wp, codec="ppm").collect()
    }
    rez = {
        r.doc_id: r for r in multimodal.resize_images(wp, codec="ppm").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", [(i, "t") for i in range(12)]
    )
    for r in con.execute(multimodal.PPM_FEATURES_SQL).fetchall():
        f = feats[r[0]]
        assert r[1:] == (f.n_bytes, f.first_byte, f.byte_checksum, f.width, f.height)
    for r in con.execute(multimodal.PPM_RESIZE_SQL).fetchall():
        z = rez[r[0]]
        assert r[1:5] == (z.n_bytes, z.width, z.height, z.checksum)
        assert r[5] == bytes(z.payload).hex().upper()


def test_fused_features_equal_joined_standalone_legs(spark):
    """multimodal_features (one Arrow pass) returns exactly the
    standalone wrappers' values, left-joined on doc_id, under the
    same column names, types and order — doc 0 included."""
    from pyspark.sql import functions as F

    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text")
    )
    fused = multimodal.multimodal_features(docs)
    M = multimodal
    wp = M.attach_binary_payload(docs, media="ppm")
    feats = M.extract_features(wp, codec="ppm").withColumnsRenamed(
        {"width": "src_width", "height": "src_height"}
    )
    rez = M.resize_images(wp, codec="ppm").select(
        "doc_id",
        F.col("n_bytes").alias("resized_bytes"),
        "width",
        "height",
        F.col("checksum").alias("resized_checksum"),
        F.hex("payload").alias("payload_hex"),
    )
    wav = M.extract_audio_features(
        M.attach_binary_payload(docs, media="wav")
    ).withColumnRenamed("n_bytes", "wav_bytes")
    png = M.extract_png_features(M.attach_png_payload(docs)).select(
        "doc_id", *[F.col(c).alias(f"png_{a}") for c, a in (
            ("width", "width"), ("height", "height"),
            ("n_pixel_bytes", "pixel_bytes"), ("pixel_checksum", "checksum"),
        )]
    )
    jpg = M.extract_jpeg_features(M.attach_jpeg_payload(docs)).select(
        "doc_id", *[F.col(c).alias(f"jpeg_{a}") for c, a in (
            ("width", "width"), ("height", "height"),
            ("n_components", "components"), ("n_blocks", "blocks"),
            ("dc_sum", "dc_sum"), ("ac_sum", "ac_sum"),
            ("ac_nonzero", "ac_nonzero"),
        )]
    )
    joined = (
        feats.join(rez, "doc_id", "left")
        .join(wav, "doc_id", "left")
        .join(png, "doc_id", "left")
        .join(jpg, "doc_id", "left")
    )
    assert fused.schema == multimodal.MULTIMODAL_FEATURES_SCHEMA
    assert [(f.name, f.dataType) for f in fused.schema] == [
        (f.name, f.dataType) for f in joined.schema
    ]
    got = sorted(tuple(r) for r in fused.collect())
    assert got == sorted(tuple(r) for r in joined.collect())
    assert [r[0] for r in got] == list(range(40))


def test_sample_frames_expands_rows(spark):
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    # 300 bytes, 64-byte frames → frames 0..4; every 2nd → 0,2,4; cap 3
    docs = spark.createDataFrame(
        [(7, "a" * 300, "en")], "doc_id long, text string, lang string"
    )
    rows = M.sample_frames(M.attach_binary_payload(docs)).collect()
    assert [(r.frame_id, r.n_frame_bytes) for r in rows] == [
        (0, 64), (2, 64), (4, 44),
    ]
    assert all(r.frame_checksum == (ord("a") * r.n_frame_bytes) % 1_000_003 for r in rows)


def test_wav_payload_roundtrip_and_parser_contract(spark):
    """The generated RIFF payload parses back to the formula samples;
    the parser rejects malformed envelopes rather than misparsing
    (same contract as decode_ppm) and walks unknown chunks."""
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    docs = spark.createDataFrame([(3, "x"), (7, "y")], "doc_id long, text string")
    rows = {r.doc_id: bytes(r.payload) for r in
            M.attach_binary_payload(docs, media="wav").collect()}
    for d, p in rows.items():
        rate, ch, s = M.decode_wav(p)
        n = 32 + d % 64
        assert (rate, ch, len(s)) == (8000, 1, n)
        assert s == [(d * 37 + i * 11) % 4096 - 2048 for i in range(n)]
        assert len(p) == 44 + 2 * n
    import pytest

    p = rows[3]
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        M.decode_wav(b"JUNK" + p[4:])
    with pytest.raises(ValueError, match="disagrees"):
        M.decode_wav(p + b"\x00")  # envelope size no longer matches
    with pytest.raises(ValueError, match="mono PCM16"):
        # stereo declared in fmt: flip the channel count field
        bad = bytearray(p)
        bad[22] = 2
        M.decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="sample rate"):
        # rate=0 declared in fmt must reject, not divide-by-zero later
        bad = bytearray(p)
        bad[24:28] = (0).to_bytes(4, "little")
        M.decode_wav(bytes(bad))
    # an extra well-formed chunk BEFORE data must be skipped, not fatal:
    # rebuild with a 4-byte "junk" chunk inserted after fmt
    hdr, data = p[:36], p[36:]
    extra = b"junk" + (4).to_bytes(4, "little") + b"abcd"
    patched = bytearray(hdr + extra + data)
    patched[4:8] = (len(patched) - 8).to_bytes(4, "little")
    rate, ch, s2 = M.decode_wav(bytes(patched))
    assert s2 == [(3 * 37 + i * 11) % 4096 - 2048 for i in range(32 + 3 % 64)]


def test_wav_audio_features_values(spark):
    """Integer-exact features from a hand-checkable tiny clip."""
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    docs = spark.createDataFrame([(0, "z")], "doc_id long, text string")
    wp = M.attach_binary_payload(docs, media="wav")
    r = M.extract_audio_features(wp).collect()[0]
    s = [(0 * 37 + i * 11) % 4096 - 2048 for i in range(32)]
    assert r.n_samples == 32 and r.sample_rate == 8000
    assert r.duration_ms == 32 * 1000 // 8000
    assert r.sum_abs == sum(abs(x) for x in s)
    assert r.max_abs == max(abs(x) for x in s)
    assert r.zero_crossings == sum(
        1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0)
    )


def test_png_codec_roundtrip_filters_and_crc():
    """The stdlib PNG pair (pure Python — no Spark session needed):
    encode→decode restores the pixel grid; the decoder unfilters ALL
    five scanline filter types from a hand-assembled conforming
    payload; corrupted CRC, unsupported IHDR shapes, truncation, and
    corrupt deflate streams are rejected."""
    import struct
    import zlib

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    w, h = 5, 6
    px = bytes((i * 37 + 11) % 256 for i in range(3 * w * h))
    p = M.encode_png(w, h, px)
    assert M.decode_png(p) == (w, h, px)

    # conforming payload with a DIFFERENT filter per row (0..4, 0)
    stride = 3 * w

    def filt(ftype, row, prev):
        out = bytearray()
        for x, v in enumerate(row):
            a = row[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((v - pred) & 0xFF)
        return bytes(out)

    raw = b""
    prev = bytes(stride)
    for y in range(h):
        row = px[y * stride : (y + 1) * stride]
        raw += bytes([y % 5]) + filt(y % 5, row, prev)
        prev = row

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    p2 = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(p2) == (w, h, px)

    bad = bytearray(p)
    bad[20] ^= 1
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(bad))
    gray = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truecolor"):
        M.decode_png(gray)
    with pytest.raises(ValueError, match="IEND"):
        M.decode_png(p[:-5])  # storage truncation into the IEND chunk
    garbage = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", b"not deflate data")
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="deflate"):
        M.decode_png(garbage)
    # decompression bomb: 1 MB of zeros from a ~1 KB IDAT is rejected
    # without materializing the expansion
    bomb = (
        M._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 1_000_000))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="disagrees"):
        M.decode_png(bomb)


def test_png_spark_features_match_formula(spark):
    """End-to-end through mapInPandas: generated PNGs decode back to
    the shared formula image's dimensions and pixel checksum."""
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    docs = spark.createDataFrame([(3, "x"), (8, "y")], "doc_id long, text string")
    rows = {
        r.doc_id: r
        for r in M.extract_png_features(M.attach_png_payload(docs)).collect()
    }
    for d in (3, 8):
        w, h = 4 + d % 5, 3 + d % 4
        px = [(d * 31 + i * 7) % 256 for i in range(3 * w * h)]
        r = rows[d]
        assert (r.width, r.height) == (w, h)
        assert r.n_pixel_bytes == len(px)
        assert r.pixel_checksum == sum(px) % 1_000_003


def test_jpeg_codec_roundtrip_and_reject_contract():
    """encode_jpeg → decode_jpeg round trip: the decoder's
    dequantized blocks must equal the supplied quantized blocks times
    the DQT table, for many docs (exercising 1-6 block layouts, DC
    diffs of both signs, all three AC run lengths, and pure-EOB
    blocks). Plus the strict reject contract: truncated scan, bad
    marker, non-EOI terminator, progressive SOF, undefined tables."""
    import struct

    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    for d in list(range(24)) + [601, 44421]:
        w, h, blocks = M._jpeg_formula_blocks(d)
        payload = M.encode_jpeg(w, h, blocks)
        W, H, nf, deq = M.decode_jpeg(payload)
        assert (W, H, nf) == (w, h, 1)
        for orig, got in zip(blocks, deq):
            assert got == [v * q for v, q in zip(orig, M._JPEG_QZ)]

    w, h, blocks = M._jpeg_formula_blocks(5)
    p = M.encode_jpeg(w, h, blocks)
    with pytest.raises(ValueError, match="SOI"):
        M.decode_jpeg(b"\x00\x01" + p)
    with pytest.raises(ValueError, match="scan"):
        M.decode_jpeg(p[:-6])  # truncated inside entropy data
    with pytest.raises(ValueError, match="non-EOI"):
        M.decode_jpeg(p[:-2] + b"\xff\xd0")
    bad = bytearray(p)
    bad[p.find(b"\xff\xc0") + 1] = 0xC2  # progressive
    with pytest.raises(ValueError, match="baseline"):
        M.decode_jpeg(bytes(bad))
    # corrupt one entropy byte: JPEG carries no CRC, so a corrupted
    # scan may REJECT (bad code / truncation / overflow) or ALIAS to
    # a valid decode — but it can never silently reproduce the
    # original coefficients (the flipped bits sit inside the first
    # DC code)
    sos = p.find(b"\xff\xda")
    _, _, _, clean = M.decode_jpeg(p)
    for flip in (0x5A, 0x81, 0x0F):
        bad2 = bytearray(p)
        bad2[sos + 10] ^= flip
        try:
            _, _, _, got = M.decode_jpeg(bytes(bad2))
            assert got != clean, "corruption decoded to identical blocks"
        except ValueError:
            pass
    # a scan referencing an undefined Huffman table must reject:
    # rebuild the file without its DHT segment
    dht_at = p.find(b"\xff\xc4")
    (dht_len,) = struct.unpack(">H", p[dht_at + 2 : dht_at + 4])
    no_dht = p[:dht_at] + p[dht_at + 2 + dht_len :]
    with pytest.raises(ValueError, match="Huffman table"):
        M.decode_jpeg(no_dht)


def test_jpeg_encoder_is_spec_shaped():
    """Marker-level sanity a third-party baseline decoder relies on:
    SOI first, EOI last, JFIF APP0 present, DQT carries the Annex-K
    table, SOF0 declares 8-bit grayscale with the right dims, and
    every 0xFF inside the entropy scan is stuffed."""
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    w, h, blocks = M._jpeg_formula_blocks(7)
    p = M.encode_jpeg(w, h, blocks)
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in p
    dqt = p.find(b"\xff\xdb")
    assert list(p[dqt + 5 : dqt + 5 + 64]) == M._JPEG_QZ
    sof = p.find(b"\xff\xc0")
    prec, H, W, nf = p[sof + 4], p[sof + 5] * 256 + p[sof + 6], p[sof + 7] * 256 + p[sof + 8], p[sof + 9]
    assert (prec, H, W, nf) == (8, h, w, 1)
    sos = p.find(b"\xff\xda")
    scan = p[sos + 10 : -2]
    i = 0
    while i < len(scan):
        if scan[i] == 0xFF:
            assert scan[i + 1] == 0x00, "unstuffed 0xFF inside scan"
            i += 2
        else:
            i += 1


def test_jpeg_spark_features_match_formula(spark):
    """End-to-end through mapInPandas: generated JPEGs decode back to
    the analytic feature values (the oracle twin's arithmetic)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    docs = spark.createDataFrame([(2, "x"), (11, "y")], "doc_id long, text string")
    rows = {
        r.doc_id: r
        for r in M.extract_jpeg_features(M.attach_jpeg_payload(docs)).collect()
    }
    for d in (2, 11):
        bw, bh = 1 + d % 3, 1 + d % 2
        nb = bw * bh
        dc_sum = sum(((d * 7 + b * 13) % 64 - 32) * M._JPEG_QZ[0] for b in range(nb))
        ac_sum = sum(
            ((d * 3 + b) % 7 - 3) * M._JPEG_QZ[1 + (d + b) % 3] for b in range(nb)
        )
        ac_nz = sum(1 for b in range(nb) if (d * 3 + b) % 7 - 3 != 0)
        r = rows[d]
        assert (r.width, r.height, r.n_components) == (8 * bw, 8 * bh, 1)
        assert (r.n_blocks, r.dc_sum, r.ac_sum, r.ac_nonzero) == (
            nb, dc_sum, ac_sum, ac_nz,
        )


def test_y4m_decoder_parses_and_rejects():
    """Pure-Python contract for decode_y4m: a hand-built conforming
    stream (with extra header tags and per-FRAME params) parses to
    the right dims/rate/frames; malformed streams reject."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    w, h, nf = 6, 4, 3
    fsz = w * h * 3 // 2
    frames = [bytes((f * 29 + i * 5) % 256 for i in range(fsz)) for f in range(nf)]
    head = f"YUV4MPEG2 W{w} H{h} F30000:1001 Ip A1:1 C420jpeg XCOMMENT\n".encode()
    body = b"".join(
        (b"FRAME\n" if f % 2 == 0 else b"FRAME Xtag\n") + frames[f]
        for f in range(nf)
    )
    W, H, fps, cs, got = M.decode_y4m(head + body)
    assert (W, H, fps, cs) == (w, h, (30000, 1001), "420jpeg")
    assert got == frames
    # C tag absent -> the spec's 420 default
    W, H, _, cs, got = M.decode_y4m(
        f"YUV4MPEG2 W{w} H{h}\n".encode() + b"FRAME\n" + frames[0]
    )
    assert cs == "420jpeg" and got == [frames[0]]
    # mono and 444 frame sizes
    W, H, _, cs, got = M.decode_y4m(
        b"YUV4MPEG2 W4 H2 Cmono\nFRAME\n" + bytes(8)
    )
    assert cs == "mono" and len(got[0]) == 8
    W, H, _, cs, got = M.decode_y4m(
        b"YUV4MPEG2 W3 H1 C444\nFRAME\n" + bytes(9)
    )
    assert cs == "444" and len(got[0]) == 9  # odd dims fine outside 420

    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        M.decode_y4m(b"RIFF....")
    with pytest.raises(ValueError, match="W/H"):
        M.decode_y4m(b"YUV4MPEG2 F25:1\nFRAME\n")
    with pytest.raises(ValueError, match="odd dimensions"):
        M.decode_y4m(b"YUV4MPEG2 W5 H4\n")
    with pytest.raises(ValueError, match="unsupported colorspace"):
        M.decode_y4m(b"YUV4MPEG2 W4 H4 C422\n")
    with pytest.raises(ValueError, match="truncated frame"):
        M.decode_y4m(head + body[:-1])
    with pytest.raises(ValueError, match="FRAME marker"):
        M.decode_y4m(head + body + b"junk")
    with pytest.raises(ValueError, match="unterminated FRAME"):
        M.decode_y4m(head + b"FRAME Xno-newline")


def test_y4m_spark_generator_decodes_to_formula(spark):
    """End-to-end: the JVM-generated YUV4MPEG2 payload is a valid
    stream whose decoded frames match the shared formula — and the
    extractor's rows carry the analytic checksums/hex."""
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    docs = spark.createDataFrame([(4, "a"), (9, "b")], "doc_id long, text string")
    wp = M.attach_binary_payload(docs, media="y4m")
    payloads = {r.doc_id: bytes(r.payload) for r in wp.collect()}
    rows = {}
    for r in M.extract_y4m_frames(wp).collect():
        rows[(r.doc_id, r.frame_id)] = r
    for d in (4, 9):
        w, h, nf = 4 + 2 * (d % 3), 4 + 2 * (d % 2), 2 + d % 3
        fsz = w * h * 3 // 2
        W, H, fps, cs, frames = M.decode_y4m(payloads[d])
        assert (W, H, fps, cs, len(frames)) == (w, h, (25, 1), "420jpeg", nf)
        for f in range(nf):
            expect = bytes((d * 17 + f * 29 + i * 5) % 256 for i in range(fsz))
            assert frames[f] == expect
            r = rows[(d, f)]
            assert (r.width, r.height, r.n_frame_bytes) == (w, h, fsz)
            assert r.frame_checksum == sum(expect) % 1_000_003
            assert r.frame_hex == expect.hex().upper()


def test_avi_mjpeg_roundtrip_and_reject_contract():
    """Round 12: the AVI/MJPEG container round-trips through the real
    RIFF walk + per-frame entropy decode, and every malformed-input
    class REJECTS rather than misparses."""
    import struct

    d = 7
    frames = []
    for f in range(2 + d % 3):
        w, h, blocks = multimodal._mjpeg_formula_blocks(d, f)
        frames.append(multimodal.encode_jpeg(w, h, blocks))
    avi = multimodal.encode_avi_mjpeg(w, h, frames)

    cw, ch, got = multimodal.decode_avi_mjpeg(avi)
    assert (cw, ch) == (w, h) and len(got) == len(frames)
    for f, fr in enumerate(got):
        dw, dh, _nf, blks = multimodal.decode_jpeg(fr)
        _, _, want = multimodal._mjpeg_formula_blocks(d, f)
        assert blks == [
            [v * q for v, q in zip(blk, multimodal._JPEG_QZ)] for blk in want
        ]

    # wrong magic / wrong form type
    with pytest.raises(ValueError, match="RIFF/AVI"):
        multimodal.decode_avi_mjpeg(b"LIST" + avi[4:])
    with pytest.raises(ValueError, match="RIFF/AVI"):
        multimodal.decode_avi_mjpeg(avi[:8] + b"WAVE" + avi[12:])
    # RIFF size disagrees with payload length (truncation)
    with pytest.raises(ValueError, match="size does not match"):
        multimodal.decode_avi_mjpeg(avi[:-2])
    # truncated INSIDE the movi list: shrink a frame chunk's body but
    # keep the declared sizes — the chunk runs past its container
    movi_at = avi.find(b"LIST", 12)
    while avi[movi_at + 8 : movi_at + 12] != b"movi":
        movi_at = avi.find(b"LIST", movi_at + 1)
    cut = avi[: movi_at + 40] + avi[movi_at + 44 :]
    cut = cut[:4] + struct.pack("<I", len(cut) - 8) + cut[8:]
    with pytest.raises(ValueError, match="runs past|truncated|FRAME|JPEG|frames"):
        multimodal.decode_avi_mjpeg(cut)
    # non-MJPG video handler
    bad = avi.replace(b"vidsMJPG", b"vidsH264")
    with pytest.raises(ValueError, match="not an MJPEG"):
        multimodal.decode_avi_mjpeg(bad)
    # non-video stream type
    bad = avi.replace(b"vidsMJPG", b"audsMJPG")
    with pytest.raises(ValueError, match="not video"):
        multimodal.decode_avi_mjpeg(bad)
    # frame-count mismatch: declare one more frame in avih
    avih_at = avi.find(b"avih")
    n_at = avih_at + 8 + 16  # dwTotalFrames is the 5th DWORD
    (n_decl,) = struct.unpack("<I", avi[n_at : n_at + 4])
    bad = avi[:n_at] + struct.pack("<I", n_decl + 1) + avi[n_at + 4 :]
    with pytest.raises(ValueError, match="declares"):
        multimodal.decode_avi_mjpeg(bad)
    # movi chunk that is not a JPEG (SOI clobbered)
    soi_at = avi.find(b"\xff\xd8", movi_at)
    bad = avi[:soi_at] + b"\x00\x00" + avi[soi_at + 2 :]
    with pytest.raises(ValueError, match="not a JPEG"):
        multimodal.decode_avi_mjpeg(bad)
    # foreign movi chunk fourcc
    bad = avi.replace(b"00dc", b"01wb")
    with pytest.raises(ValueError, match="unexpected movi chunk|stream"):
        multimodal.decode_avi_mjpeg(bad)


def test_jpeg_rejects_standalone_markers():
    """ADVICE r11: standalone markers (TEM, RSTn, stray SOI/EOI)
    carry no length field — the decoder must reject them instead of
    misreading two payload bytes as a segment length."""
    w, h, blocks = multimodal._jpeg_formula_blocks(3)
    jp = multimodal.encode_jpeg(w, h, blocks)
    for mk in (b"\x01", b"\xd0", b"\xd7", b"\xd8", b"\xd9"):
        bad = jp[:2] + b"\xff" + mk + jp[2:]
        with pytest.raises(ValueError, match="standalone|stray"):
            multimodal.decode_jpeg(bad)


def test_y4m_444alpha_sized_four_planes():
    """ADVICE r11: C444alpha carries 4 planes — must match before the
    '444' prefix or every frame is under-sized."""
    w = h = 2
    frame = bytes(range(4 * w * h))
    payload = (
        b"YUV4MPEG2 W2 H2 F25:1 C444alpha\n" + b"FRAME\n" + frame
    )
    dw, dh, _fps, cs, frames = multimodal.decode_y4m(payload)
    assert (dw, dh, cs) == (2, 2, "444alpha")
    assert frames == [frame]
    # a 3-plane-sized frame under 444alpha must now be a clean reject
    with pytest.raises(ValueError, match="truncated frame"):
        multimodal.decode_y4m(
            b"YUV4MPEG2 W2 H2 C444alpha\n" + b"FRAME\n" + frame[: 3 * w * h]
        )


def test_mjpeg_spark_frames_match_formula(spark):
    """The distributed mjpeg leg: generate AVI payloads in
    mapInPandas, decode through the real container+entropy path, and
    pin every column against the pure-Python formula reference."""
    import struct

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    rows = multimodal.extract_mjpeg_frames(
        multimodal.attach_avi_payload(docs)
    ).collect()
    want = {}
    for d in range(8):
        for f in range(2 + d % 3):
            w, h, blocks = multimodal._mjpeg_formula_blocks(d, f)
            deq = [
                [v * q for v, q in zip(blk, multimodal._JPEG_QZ)]
                for blk in blocks
            ]
            buf = b"".join(struct.pack(">h", v) for blk in deq for v in blk)
            want[(d, f)] = (
                w, h, len(buf), sum(buf) % 1_000_003, buf.hex().upper()
            )
    assert len(rows) == len(want)
    for r in rows:
        assert (
            r.width, r.height, r.n_frame_bytes, r.frame_checksum, r.frame_hex
        ) == want[(r.doc_id, r.frame_id)]


from hypothesis import HealthCheck as _HealthCheck
from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st


@_st.composite
def _jpeg_blocks(draw):
    """Random quantized blocks inside the shipped table alphabet:
    DC in [-32, 31]; AC nonzeros in ±{1,2,3} at positions whose gaps
    keep runs ≤ 2 (the 7-symbol AC table: EOB, (0-2 run)×(1-2 size))."""
    n_blocks = draw(_st.integers(min_value=1, max_value=6))
    blocks = []
    for _ in range(n_blocks):
        coeff = [0] * 64
        coeff[0] = draw(_st.integers(min_value=-32, max_value=31))
        k = 0
        while True:
            gap = draw(_st.integers(min_value=1, max_value=3))
            k += gap
            if k > 63 or not draw(_st.booleans()):
                break
            v = draw(_st.sampled_from([-3, -2, -1, 1, 2, 3]))
            coeff[k] = v
        blocks.append(coeff)
    return blocks


@_settings(max_examples=80, deadline=None)
@_given(_jpeg_blocks(), _st.integers(min_value=1, max_value=4))
def test_jpeg_entropy_coder_property(blocks, bw):
    """For ANY blocks expressible in the shipped Huffman alphabet —
    arbitrary DC walks, multiple ACs per block, nonzeros landing on
    position 63 (no EOB emitted) — encode→decode returns exactly the
    dequantized input. Exercises the coder far beyond the gate
    formula's one-AC-per-block shapes."""
    while len(blocks) % bw:
        bw -= 1
    bh = len(blocks) // bw
    w, h = 8 * bw, 8 * bh
    payload = multimodal.encode_jpeg(w, h, blocks)
    W, H, nf, deq = multimodal.decode_jpeg(payload)
    assert (W, H, nf) == (w, h, 1)
    assert deq == [
        [v * q for v, q in zip(blk, multimodal._JPEG_QZ)] for blk in blocks
    ]


@_st.composite
def _y4m_stream(draw):
    cs = draw(_st.sampled_from(["420jpeg", "420", "444", "444alpha", "mono"]))
    if cs.startswith("420"):
        w = 2 * draw(_st.integers(min_value=1, max_value=4))
        h = 2 * draw(_st.integers(min_value=1, max_value=4))
        fsz = w * h * 3 // 2
    elif cs == "444alpha":
        w = draw(_st.integers(min_value=1, max_value=6))
        h = draw(_st.integers(min_value=1, max_value=6))
        fsz = 4 * w * h
    elif cs == "444":
        w = draw(_st.integers(min_value=1, max_value=6))
        h = draw(_st.integers(min_value=1, max_value=6))
        fsz = 3 * w * h
    else:
        w = draw(_st.integers(min_value=1, max_value=8))
        h = draw(_st.integers(min_value=1, max_value=8))
        fsz = w * h
    # frame bytes may contain ASCII 'FRAME' — the walk must not care
    frames = draw(
        _st.lists(
            _st.one_of(
                _st.binary(min_size=fsz, max_size=fsz),
                _st.just((b"FRAME" * (fsz // 5 + 1))[:fsz]),
            ),
            max_size=3,
        )
    )
    hdr = f"YUV4MPEG2 W{w} H{h} F30:1 C{cs}\n".encode()
    return (
        hdr + b"".join(b"FRAME\n" + fr for fr in frames),
        w,
        h,
        cs,
        frames,
    )


@_settings(max_examples=60, deadline=None)
@_given(_y4m_stream())
def test_y4m_decoder_property(stream):
    """For ANY conforming stream — every supported colorspace, frames
    whose bytes embed the ASCII 'FRAME' marker — the parser returns
    the exact frame list; truncating the last frame by one byte is
    always a clean reject."""
    payload, w, h, cs, frames = stream
    dw, dh, fps, dcs, got = multimodal.decode_y4m(payload)
    assert (dw, dh, fps, dcs) == (w, h, (30, 1), cs)
    assert got == frames
    if frames:
        with pytest.raises(ValueError, match="truncated frame"):
            multimodal.decode_y4m(payload[:-1])


@_settings(max_examples=60, deadline=None)
@_given(
    _st.lists(
        _st.integers(min_value=-32768, max_value=32767),
        min_size=1,
        max_size=200,
    ),
    _st.integers(min_value=1, max_value=96000),
)
def test_wav_codec_property(samples, rate):
    """For ANY mono PCM16 sample vector and sample rate, a hand-built
    canonical RIFF/WAVE decodes to exactly those samples — and a
    one-byte truncation rejects."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    payload = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    got_rate, n_channels, got = multimodal.decode_wav(payload)
    assert (got_rate, n_channels) == (rate, 1)
    assert got == samples
    with pytest.raises(ValueError):
        multimodal.decode_wav(payload[:-1])


@_settings(max_examples=40, deadline=None)
@_given(
    _st.integers(min_value=1, max_value=8),
    _st.integers(min_value=1, max_value=8),
    _st.data(),
)
def test_png_codec_property(w, h, data):
    """encode_png -> decode_png is the identity on ANY truecolor pixel
    buffer (zlib round trip + filter reconstruction), and a corrupted
    CRC always rejects."""
    pixels = data.draw(
        _st.binary(min_size=3 * w * h, max_size=3 * w * h)
    )
    payload = multimodal.encode_png(w, h, pixels)
    dw, dh, got = multimodal.decode_png(payload)
    assert (dw, dh, got) == (w, h, pixels)
    bad = bytearray(payload)
    bad[-5] ^= 0xFF  # inside the IEND CRC
    with pytest.raises(ValueError):
        multimodal.decode_png(bytes(bad))


@_settings(max_examples=60, deadline=None)
@_given(
    _st.lists(
        _st.binary(min_size=0, max_size=40).map(lambda b: b"\xff\xd8" + b),
        min_size=1,
        max_size=5,
    ),
    _st.integers(min_value=1, max_value=64),
    _st.integers(min_value=1, max_value=64),
)
def test_avi_container_property(frames, w, h):
    """The AVI container walk is codec-independent: ANY chunk bodies
    (odd lengths exercising word padding, bodies embedding 'LIST'/
    '00dc' fourcc bytes) round-trip exactly, and the declared-count
    cross-check plus envelope-size check hold."""
    payload = multimodal.encode_avi_mjpeg(w, h, frames)
    dw, dh, got = multimodal.decode_avi_mjpeg(payload)
    assert (dw, dh) == (w, h)
    assert got == frames
    with pytest.raises(ValueError, match="size does not match"):
        multimodal.decode_avi_mjpeg(payload + b"\x00")


def test_flic_roundtrip_and_reject_contract():
    """Round 18 (VERDICT r17 item 6): the INTER-FRAME leg. Encode the
    formula FLC, decode through the real BRUN + SS2 walk, pin every
    reconstructed frame against the last-writer closed form, and
    reject malformed payloads instead of misparsing them."""
    import struct

    d = 7
    w, h, nf = multimodal._flic_dims(d)
    payload = multimodal.encode_flic(d)
    dw, dh, frames = multimodal.decode_flic(payload)
    assert (dw, dh, len(frames)) == (w, h, nf)
    for f, fr in enumerate(frames):
        want = bytearray()
        for y in range(h):
            j = f - ((f - y % 3) % 3)
            for x in range(w):
                want.append(
                    multimodal._flic_delta_pixel(d, j, x, y)
                    if j >= 1
                    else multimodal._flic_base_pixel(d, x, y)
                )
        assert fr == bytes(want), f
    # rejects: wrong magic
    with pytest.raises(ValueError, match="magic"):
        multimodal.decode_flic(payload[:4] + b"\x00\x00" + payload[6:])
    # size field vs payload length
    with pytest.raises(ValueError, match="size field"):
        multimodal.decode_flic(payload + b"\x00")
    # truncated header
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_flic(payload[:64])
    # unknown chunk type: patch the first subchunk's type word
    sub_type_at = 128 + 16 + 4
    bad = bytearray(payload)
    struct.pack_into("<H", bad, sub_type_at, 99)
    with pytest.raises(ValueError, match="unsupported FLIC chunk type 99"):
        multimodal.decode_flic(bytes(bad))
    # frame-count mismatch: header declares one more frame
    bad = bytearray(payload)
    struct.pack_into("<H", bad, 6, nf + 1)
    with pytest.raises(ValueError, match="declares"):
        multimodal.decode_flic(bytes(bad))
    # SS2 before any intra frame: swap first subchunk's type to SS2
    bad = bytearray(payload)
    struct.pack_into("<H", bad, sub_type_at, multimodal._FLI_SS2)
    with pytest.raises(ValueError, match="delta before any intra"):
        multimodal.decode_flic(bytes(bad))


def test_flic_delta_chain_is_order_dependent():
    """Temporal prediction for real: frame 2 reconstructed WITHOUT
    frame 1's delta differs from the true frame 2 — the lines frame 1
    rewrote (y % 3 == 1) would still hold base-formula pixels. This is
    what separates the FLIC leg from the intra-only Y4M/MJPEG legs."""
    import struct

    d = 4  # nf = 3 + 4 % 2 = 3 frames, h = 4 — has y%3==1 lines
    w, h, nf = multimodal._flic_dims(d)
    assert nf >= 3
    _, _, frames = multimodal.decode_flic(multimodal.encode_flic(d))
    # rebuild a stream with frame 1's delta REPLACED by an empty SS2
    # (0 lines) — a legal FLC whose frame 1 repeats frame 0
    payload = multimodal.encode_flic(d)
    pos = 128
    chunks = []
    while pos < len(payload):
        (fsize,) = struct.unpack("<I", payload[pos:pos + 4])
        chunks.append(payload[pos:pos + fsize])
        pos += fsize
    empty_ss2 = struct.pack("<IH", 8, multimodal._FLI_SS2) + struct.pack("<H", 0)
    chunks[1] = (
        struct.pack("<IHH8x", 16 + len(empty_ss2), multimodal._FLIC_FRAME_MAGIC, 1)
        + empty_ss2
    )
    blob = b"".join(chunks)
    hdr = bytearray(payload[:128])
    struct.pack_into("<I", hdr, 0, 128 + len(blob))
    _, _, skipped = multimodal.decode_flic(bytes(hdr) + blob)
    assert skipped[0] == frames[0]
    assert skipped[1] == frames[0]  # empty delta = repeat previous
    assert skipped[2] != frames[2]  # frame 1's lines never caught up
    # the difference is EXACTLY the y%3==1 lines
    for y in range(h):
        a = skipped[2][y * w:(y + 1) * w]
        b = frames[2][y * w:(y + 1) * w]
        assert (a == b) == (y % 3 != 1), y


def test_flic_spark_frames_match_formula(spark):
    """The distributed inter-frame leg: generate FLC payloads in
    mapInPandas, decode through the real BRUN+SS2 chain, and pin
    every column against the pure-Python reconstruction."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    rows = multimodal.extract_flic_frames(
        multimodal.attach_flic_payload(docs)
    ).collect()
    want = {}
    for d in range(8):
        w, h, frames_n = multimodal._flic_dims(d)
        _, _, frames = multimodal.decode_flic(multimodal.encode_flic(d))
        for f, fr in enumerate(frames):
            want[(d, f)] = (
                w, h, len(fr), sum(fr) % 1_000_003, fr.hex().upper()
            )
    assert len(rows) == len(want)
    for r in rows:
        assert (
            r.width, r.height, r.n_frame_bytes, r.frame_checksum, r.frame_hex
        ) == want[(r.doc_id, r.frame_id)]


@_settings(max_examples=120, deadline=None)
@_given(
    _st.binary(min_size=2, max_size=64).filter(lambda b: len(b) % 2 == 0),
    _st.binary(min_size=2, max_size=64).filter(lambda b: len(b) % 2 == 0),
)
def test_flic_packet_coders_property(line0, line1):
    """For ANY byte content (runs, literals, mixtures): a BRUN-coded
    line decodes back exactly, and an SS2 full-line packet list
    patches a previous frame into exactly the new line."""
    if len(line0) != len(line1):
        n = min(len(line0), len(line1))
        n -= n % 2
        line0, line1 = line0[:n], line1[:n]
    if not line0:
        return
    w = len(line0)
    got = multimodal._decode_brun(multimodal._brun_line(line0), w, 1)
    assert bytes(got) == line0
    body = multimodal._u16le(1) + multimodal._ss2_line_packets(line1)
    patched = multimodal._apply_ss2(body, bytearray(line0), w, 1)
    assert bytes(patched) == line1
