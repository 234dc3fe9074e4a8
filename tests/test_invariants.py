"""Property-style invariants over the registered queries (SURVEY.md §5.2
item 3) + multimodal plumbing checks."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import load_table
from google_analytics_dataframes_spark.operators import multimodal as M
from google_analytics_dataframes_spark.registry import registry
from tests.conftest import SF_DIR


def test_filter_is_subset_and_partition(spark):
    o = load_table(spark, SF_DIR, "orders")
    total = o.count()
    f = o.filter(F.col("o_orderstatus") == "F").count()
    nf = o.filter(F.col("o_orderstatus") != "F").count()
    assert f + nf == total and 0 < f < total


def test_semi_plus_anti_partition_left_side(spark):
    reg = registry()
    semi = reg["j7_semi"].fn(spark, SF_DIR).count()
    c = load_table(spark, SF_DIR, "customer")
    o = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    anti = c.join(o, o.o_custkey == c.c_custkey, "left_anti").count()
    assert semi + anti == c.count()


def test_union_counts_add_and_except_inverts(spark):
    reg = registry()
    u1 = reg["u1_union_all"].fn(spark, SF_DIR).count()
    u3 = reg["u3_intersect"].fn(spark, SF_DIR).count()
    u4 = reg["u4_except"].fn(spark, SF_DIR).count()
    # |A|+|B| = |A UNION ALL B|; |A| = |A EXCEPT ALL B| + |A∩B| (keys unique)
    assert u1 > 0 and u4 + u3 + (u1 - u4 - 2 * u3) > 0
    a = u4 + u3  # |A| reconstructed
    assert a + (u1 - a) == u1


def test_topk_per_group_bounded(spark):
    reg = registry()
    pdf = reg["o4_topk_per_group"].fn(spark, SF_DIR).toPandas()
    assert (pdf.groupby("c_custkey").size() <= 3).all()


def test_sessionize_gap_semantics(spark):
    """Within a session consecutive gaps < 30 min; session starts are
    >= 30 min after the previous session's last event."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", F.unix_micros("ts").alias("us"), "event_id")
        .toPandas()
        .sort_values(["user_id", "us", "event_id"])
    )
    reg = registry()
    sess = reg["st3_sessionize"].fn(spark, SF_DIR).toPandas()
    # reconstruct sessions per user from gaps and compare counts
    def count_sessions(g: pd.Series) -> int:
        gaps = g.diff()
        return int(1 + (gaps >= 1_800_000_000).sum())

    want = ev.groupby("user_id")["us"].apply(count_sessions)
    got = sess.groupby("user_id")["session_id"].max()
    assert (got.sort_index() == want.sort_index()).all()


def test_multimodal_plumbing_checksum(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    feats = M.fake_decode_features(M.to_multimodal(docs)).toPandas()
    texts = docs.select("doc_id", "text").toPandas().set_index("doc_id")["text"]
    for _, r in feats.iterrows():
        raw = texts[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(raw)
        assert r.first_byte == raw[0]
        assert r.checksum == sum(raw) % 997


def test_multimodal_bmp_roundtrip_known_answer():
    """Round-6 upgrade (VERDICT r5 item #7): decode_real is no longer a
    pure stub — 24-bit BMP and P6 PPM decode for real.  Known-answer
    checks: (a) encode->decode is the identity on a deterministic RGB
    ramp, (b) the BMP byte layout matches the spec exactly — 54-byte
    header, bottom-up BGR rows padded to 4 bytes (a 3x5 image has
    row_size 16, not 15), (c) a hand-built top-down BMP (negative height)
    and a commented PPM decode correctly, (d) non-implemented formats
    still raise the honest seam error."""
    import numpy as np
    import pytest

    img = (np.arange(3 * 5 * 3, dtype=np.uint32) * 37 % 256).astype(
        np.uint8
    ).reshape(3, 5, 3)

    bmp = M.encode_bmp(img)
    assert bmp[:2] == b"BM"
    assert len(bmp) == 54 + 3 * 16  # 5px*3B=15 -> padded row 16
    # pixel (0,0) is RGB img[0,0]; in the file it is the FIRST 3 bytes of
    # the LAST row, as BGR
    assert bmp[54 + 2 * 16 : 54 + 2 * 16 + 3] == bytes(img[0, 0, ::-1])
    out = M.decode_real(bmp)
    assert (out["width"], out["height"], out["channels"]) == (5, 3, 3)
    assert np.array_equal(out["pixels"], img)

    ppm = M.encode_ppm(img)
    assert ppm.startswith(b"P6\n5 3\n255\n")
    assert np.array_equal(M.decode_real(ppm)["pixels"], img)
    commented = b"P6\n# a comment\n5 3\n# more\n255\n" + img.tobytes()
    assert np.array_equal(M.decode_ppm(commented), img)

    # top-down BMP (negative height) per spec
    import struct

    neg = bytearray(bmp)
    struct.pack_into("<i", neg, 22, -3)
    row = (3 * 5 + 3) // 4 * 4
    body = np.zeros((3, row), dtype=np.uint8)
    body[:, :15] = img[:, :, ::-1].reshape(3, 15)  # top-down BGR
    assert np.array_equal(M.decode_bmp(bytes(neg[:54]) + body.tobytes()), img)

    # the honest seam survives for formats still outside the codec set
    with pytest.raises(NotImplementedError):
        M.decode_real(b"RIFF\x00\x00\x00\x00WEBP")  # WebP stays stubbed
    with pytest.raises(NotImplementedError):
        M.decode_bmp(M.encode_bmp(img)[:30] + b"\x01" + bmp[31:])  # RLE8

    # round 11: uncompressed TIFF decodes for real (round-trip via
    # encode_tiff, gray replication, big-endian + multi-strip +
    # WhiteIsZero on a hand-built fixture, compressed -> honest seam)
    timg = (np.arange(4 * 5 * 3, dtype=np.uint32) * 29 % 256).astype(
        np.uint8
    ).reshape(4, 5, 3)
    tf = M.encode_tiff(timg)
    assert tf[:4] == b"II*\x00"
    assert np.array_equal(M.decode_tiff(tf), timg)
    tr = M.decode_real(tf)
    assert (tr["width"], tr["height"], tr["channels"]) == (5, 4, 3)
    gimg = (np.arange(3 * 4, dtype=np.uint32) * 47 % 256).astype(
        np.uint8
    ).reshape(3, 4)
    assert np.array_equal(
        M.decode_tiff(M.encode_tiff(gimg)),
        np.repeat(gimg[:, :, None], 3, 2),
    )
    # big-endian, two strips, WhiteIsZero — layouts encode_tiff never
    # emits, so the decoder is tested against the format
    h2, w2 = 4, 3
    px2 = (np.arange(h2 * w2).reshape(h2, w2) * 21 % 256).astype(np.uint8)
    d = px2.tobytes()
    s1, s2 = d[: 2 * w2], d[2 * w2 :]
    n_tags = 9
    val_area = 8 + 2 + 12 * n_tags + 4
    so_off, sc_off = val_area, val_area + 8
    d1 = sc_off + 8
    d2 = d1 + len(s1)

    def btag(t, typ, cnt, val4):
        return struct.pack(">HHI", t, typ, cnt) + val4

    bsv = lambda v: struct.pack(">HH", v, 0)  # noqa: E731
    blv = lambda v: struct.pack(">I", v)  # noqa: E731
    mm = (
        b"MM\x00*" + struct.pack(">I", 8) + struct.pack(">H", n_tags)
        + btag(256, 4, 1, blv(w2)) + btag(257, 4, 1, blv(h2))
        + btag(258, 3, 1, bsv(8)) + btag(259, 3, 1, bsv(1))
        + btag(262, 3, 1, bsv(0))  # WhiteIsZero
        + btag(273, 4, 2, blv(so_off)) + btag(277, 3, 1, bsv(1))
        + btag(278, 4, 1, blv(2)) + btag(279, 4, 2, blv(sc_off))
        + struct.pack(">I", 0)
        + struct.pack(">II", d1, d2) + struct.pack(">II", len(s1), len(s2))
        + s1 + s2
    )
    want_mm = np.repeat(
        (255 - px2.astype(np.int32)).astype(np.uint8)[:, :, None], 3, 2
    )
    assert np.array_equal(M.decode_tiff(mm), want_mm)
    ccitt = bytearray(tf)
    ci = tf.find(struct.pack("<HHI", 259, 3, 1))
    ccitt[ci + 8] = 4  # Compression = CCITT G4 stays a seam
    with pytest.raises(NotImplementedError, match="PackBits"):
        M.decode_tiff(bytes(ccitt))
    with pytest.raises(ValueError):
        M.decode_tiff(tf[: len(tf) // 2])
    # round 11: LZW (5) and PackBits (32773) strips decode for real —
    # full-file round trips through encode_tiff's compressors, plus
    # spec known answers for both kernels (PackBits' worked example
    # from the spec; a hand-checked 9-bit LZW prefix)
    for ckind in ("packbits", "lzw"):
        tcomp = M.encode_tiff(timg, compression=ckind)
        assert np.array_equal(M.decode_tiff(tcomp), timg), ckind
        gcomp = M.encode_tiff(gimg, compression=ckind)
        assert np.array_equal(
            M.decode_tiff(gcomp), np.repeat(gimg[:, :, None], 3, 2)
        ), ckind
    # PackBits worked example straight from the TIFF 6.0 spec text
    pb = bytes(
        [0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03, 0x80,
         0x00, 0x2A, 0x22, 0xF7, 0xAA]
    )
    want_pb = bytes(
        [0xAA, 0xAA, 0xAA, 0x80, 0x00, 0x2A, 0xAA, 0xAA, 0xAA, 0xAA,
         0x80, 0x00, 0x2A, 0x22, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA, 0xAA,
         0xAA, 0xAA, 0xAA, 0xAA]
    )
    assert M._packbits_decode(pb, len(want_pb)) == want_pb
    # LZW: a ClearCode (256) then literal bytes 7,7,7 then EOI, all
    # 9-bit MSB-first, hand-packed: 100000000 000000111 000000111(->
    # code 258 = "77" KwKwK on decode) — round-trip the simple way and
    # assert the known header byte (0x80 = ClearCode's top 8 bits)
    enc77 = M._tiff_lzw_encode(b"\x07\x07\x07")
    assert enc77[0] == 0x80
    assert M._tiff_lzw_decode(enc77, 3) == b"\x07\x07\x07"
    with pytest.raises(ValueError, match="EndOfInformation"):
        M._tiff_lzw_decode(enc77[:-1] + b"", 4)
    # Deflate strips (tags 8 and legacy 32946) decode via zlib
    tdz = M.encode_tiff(timg, compression="deflate")
    assert np.array_equal(M.decode_tiff(tdz), timg)
    leg = bytearray(tdz)
    di = tdz.find(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", leg, di + 8, 32946)
    assert np.array_equal(M.decode_tiff(bytes(leg)), timg)
    # PGM (P5): uint8 + 16-bit big-endian round trips; decode_real
    # replicates gray to 3 channels and rejects 16-bit like P6
    pg = (np.arange(12, dtype=np.uint32).reshape(3, 4) * 19 % 256).astype(
        np.uint8
    )
    assert np.array_equal(M.decode_pgm(M.encode_pgm(pg)), pg)
    pg16 = (pg.astype(np.uint16) << 8) | 0x21
    b16 = M.decode_pgm(M.encode_pgm(pg16))
    assert b16.dtype == np.uint16 and np.array_equal(b16, pg16)
    drg = M.decode_real(M.encode_pgm(pg))
    assert drg["channels"] == 3
    assert np.array_equal(drg["pixels"], np.repeat(pg[:, :, None], 3, 2))
    with pytest.raises(NotImplementedError, match="16-bit PGM"):
        M.decode_real(M.encode_pgm(pg16))
    # predictor 2 (tag 317, horizontal differencing): round-trips in
    # every compression, demonstrably shrinks smooth-content LZW (the
    # reason real writers use it), and an unknown predictor value is
    # REFUSED — silently ignoring the tag would emit wrong pixels
    smooth = (np.indices((10, 30))[1] * 5).astype(np.uint8)
    for ckp in ("none", "packbits", "lzw", "deflate"):
        tp = M.encode_tiff(timg, compression=ckp, predictor=True)
        assert np.array_equal(M.decode_tiff(tp), timg), ckp
    assert len(M.encode_tiff(smooth, compression="lzw", predictor=True)) < len(
        M.encode_tiff(smooth, compression="lzw")
    )
    tpred = bytearray(M.encode_tiff(timg, predictor=True))
    pi = bytes(tpred).find(struct.pack("<HHI", 317, 3, 1))
    tpred[pi + 8] = 3
    with pytest.raises(NotImplementedError, match="predictor"):
        M.decode_tiff(bytes(tpred))
    # JPEG-in-TIFF (compression 7): flat-block gray-valued RGB is
    # bit-exact through the lossy codec (the l67/MJPG channel); a
    # hand-built two-strip file (each strip its own complete JPEG)
    # assembles rows; abbreviated JPEGTables (tag 347) stays a seam
    jy, jx = np.indices((16, 24))
    jv = ((((jy // 8) * 7 + (jx // 8) * 13) * 9) % 256).astype(np.uint8)
    jimg = np.repeat(jv[:, :, None], 3, 2)
    jt = M.encode_tiff(jimg, compression="jpeg")
    assert np.array_equal(M.decode_tiff(jt), jimg)
    top, bot = M.encode_jpeg(jimg[:8]), M.encode_jpeg(jimg[8:])

    def btag2(t, typ, cnt, val4):  # little-endian entry (btag is MM)
        return struct.pack("<HHI", t, typ, cnt) + val4

    jn = 8
    jval = 8 + 2 + 12 * jn + 4
    jso, jsc = jval, jval + 8
    jd1 = jsc + 8
    jd2 = jd1 + len(top)
    jmm = (
        b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", jn)
        + btag2(256, 4, 1, struct.pack("<I", 24))
        + btag2(257, 4, 1, struct.pack("<I", 16))
        + btag2(259, 3, 1, struct.pack("<HH", 7, 0))
        + btag2(262, 3, 1, struct.pack("<HH", 6, 0))
        + btag2(273, 4, 2, struct.pack("<I", jso))
        + btag2(277, 3, 1, struct.pack("<HH", 3, 0))
        + btag2(278, 4, 1, struct.pack("<I", 8))
        + btag2(279, 4, 2, struct.pack("<I", jsc))
        + struct.pack("<I", 0)
        + struct.pack("<II", jd1, jd2)
        + struct.pack("<II", len(top), len(bot))
        + top + bot
    )
    assert np.array_equal(M.decode_tiff(jmm), jimg)
    jtab = bytearray(jt)
    ji = jt.find(struct.pack("<HHI", 284, 3, 1))
    struct.pack_into("<H", jtab, ji, 347)  # planar tag id -> JPEGTables
    with pytest.raises(NotImplementedError, match="JPEGTables"):
        M.decode_tiff(bytes(jtab))
    # planar configuration 2 (separate planes): hand-built file with 3
    # LZW planes x 3 strips each (RowsPerStrip 2 over 5 rows), plus a
    # bad planar value rejected
    ph, pw, prps = 5, 7, 2
    pimg = (np.arange(ph * pw * 3, dtype=np.uint32) * 91 % 256).astype(
        np.uint8
    ).reshape(ph, pw, 3)
    pspi = (ph + prps - 1) // prps
    pn = 10
    pval = 8 + 2 + 12 * pn + 4
    pns = pspi * 3
    pso, psc = pval, pval + 4 * pns
    pbps = psc + 4 * pns
    pstart = pbps + 6
    pstrips = [
        M._tiff_lzw_encode(
            pimg[s * prps : (s + 1) * prps, :, p].tobytes()
        )
        for p in range(3)
        for s in range(pspi)
    ]
    poffs, pcnts, pcur = [], [], pstart
    for stp in pstrips:
        poffs.append(pcur)
        pcnts.append(len(stp))
        pcur += len(stp)
    pblob = (
        b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", pn)
        + btag2(256, 4, 1, struct.pack("<I", pw))
        + btag2(257, 4, 1, struct.pack("<I", ph))
        + btag2(258, 3, 3, struct.pack("<I", pbps))
        + btag2(259, 3, 1, struct.pack("<HH", 5, 0))
        + btag2(262, 3, 1, struct.pack("<HH", 2, 0))
        + btag2(273, 4, pns, struct.pack("<I", pso))
        + btag2(277, 3, 1, struct.pack("<HH", 3, 0))
        + btag2(278, 4, 1, struct.pack("<I", prps))
        + btag2(279, 4, pns, struct.pack("<I", psc))
        + btag2(284, 3, 1, struct.pack("<HH", 2, 0))
        + struct.pack("<I", 0)
        + b"".join(struct.pack("<I", o) for o in poffs)
        + b"".join(struct.pack("<I", c) for c in pcnts)
        + struct.pack("<HHH", 8, 8, 8)
        + b"".join(pstrips)
    )
    assert np.array_equal(M.decode_tiff(pblob), pimg)
    pbad = bytearray(pblob)
    pj = pblob.find(struct.pack("<HHI", 284, 3, 1))
    pbad[pj + 8] = 3
    with pytest.raises(ValueError, match="planar"):
        M.decode_tiff(bytes(pbad))
    # tiled layout (322-325): 16x16 LZW tiles WITH the predictor over
    # a 35x40 image (edge tiles padded right/bottom; differencing
    # resets at each tile's left column — undone per tile, which the
    # whole-image cumsum would get wrong)
    th2, tw2 = 16, 16
    ih, iw = 35, 40
    timg2 = (np.arange(ih * iw * 3, dtype=np.uint32) * 151 % 256).astype(
        np.uint8
    ).reshape(ih, iw, 3)
    tacross, tdown = (iw + tw2 - 1) // tw2, (ih + th2 - 1) // th2
    ttiles = []
    for tty in range(tdown):
        for ttx in range(tacross):
            tile = np.zeros((th2, tw2, 3), np.uint8)
            tch = min(th2, ih - tty * th2)
            tcw = min(tw2, iw - ttx * tw2)
            tile[:tch, :tcw] = timg2[
                tty * th2 : tty * th2 + tch, ttx * tw2 : ttx * tw2 + tcw
            ]
            t16 = tile.astype(np.int16)
            diffed = np.concatenate(
                [t16[:, :1], (t16[:, 1:] - t16[:, :-1]) % 256], axis=1
            ).astype(np.uint8)
            ttiles.append(M._tiff_lzw_encode(diffed.tobytes()))
    tn = 12
    tval = 8 + 2 + 12 * tn + 4
    tnt = tacross * tdown
    tto, ttc = tval, tval + 4 * tnt
    tbps = ttc + 4 * tnt
    tstart = tbps + 6
    ttoffs, ttcnts, tcur = [], [], tstart
    for tt in ttiles:
        ttoffs.append(tcur)
        ttcnts.append(len(tt))
        tcur += len(tt)
    tentries = (
        btag2(256, 4, 1, struct.pack("<I", iw))
        + btag2(257, 4, 1, struct.pack("<I", ih))
        + btag2(258, 3, 3, struct.pack("<I", tbps))
        + btag2(259, 3, 1, struct.pack("<HH", 5, 0))
        + btag2(262, 3, 1, struct.pack("<HH", 2, 0))
        + btag2(277, 3, 1, struct.pack("<HH", 3, 0))
        + btag2(284, 3, 1, struct.pack("<HH", 1, 0))
        + btag2(317, 3, 1, struct.pack("<HH", 2, 0))
        + btag2(322, 4, 1, struct.pack("<I", tw2))
        + btag2(323, 4, 1, struct.pack("<I", th2))
        + btag2(324, 4, tnt, struct.pack("<I", tto))
        + btag2(325, 4, tnt, struct.pack("<I", ttc))
    )
    tiled = (
        b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", tn)
        + tentries + struct.pack("<I", 0)
        + b"".join(struct.pack("<I", o) for o in ttoffs)
        + b"".join(struct.pack("<I", c) for c in ttcnts)
        + struct.pack("<HHH", 8, 8, 8)
        + b"".join(ttiles)
    )
    assert np.array_equal(M.decode_tiff(tiled), timg2)
    # third-pass review findings: absurd header dims fail loudly (not
    # a multi-GiB MemoryError in the tiled allocator); JPEG-in-TIFF
    # honors WhiteIsZero and refuses unknown photometrics; a short
    # uncompressed strip is structural damage, not a numpy reshape
    big = bytearray(tf)
    bi2 = tf.find(struct.pack("<HHI", 257, 4, 1))
    struct.pack_into("<I", big, bi2 + 8, 1 << 28)
    with pytest.raises(ValueError, match="ceiling"):
        M.decode_tiff(bytes(big))
    jwz = bytearray(jt)
    jpi = jt.find(struct.pack("<HHI", 262, 3, 1))
    struct.pack_into("<H", jwz, jpi + 8, 0)  # WhiteIsZero
    assert np.array_equal(M.decode_tiff(bytes(jwz)), 255 - jimg)
    struct.pack_into("<H", jwz, jpi + 8, 5)  # CMYK stays a seam
    with pytest.raises(NotImplementedError, match="photometric"):
        M.decode_tiff(bytes(jwz))
    shrt = bytearray(tf)
    si2 = tf.find(struct.pack("<HHI", 279, 4, 1))
    struct.pack_into("<I", shrt, si2 + 8, 10)
    with pytest.raises(ValueError, match="strip 10 bytes"):
        M.decode_tiff(bytes(shrt))
    # review findings (round 11, second pass): decoded pixels are
    # writable like every sibling decoder's; zero-area encode is
    # rejected (its output could never round-trip); a BitsPerSample
    # count that contradicts SamplesPerPixel is DAMAGE (ValueError),
    # not an unimplemented feature
    wpx = M.decode_tiff(tf)
    wpx[0, 0, 0] = 1  # raises if read-only
    with pytest.raises(ValueError, match="zero-area"):
        M.encode_tiff(np.zeros((0, 5, 3), np.uint8))
    mism = bytearray(tf)
    bi = tf.find(struct.pack("<HHI", 258, 3, 3))
    struct.pack_into("<I", mism, bi + 4, 2)  # BitsPerSample count 2
    with pytest.raises(ValueError, match="BitsPerSample count"):
        M.decode_tiff(bytes(mism))

    # round 11: 32-bit BI_RGB (BGRX) and 8-bit palettized BMPs decode
    # for real — the two uncompressed layouts real writers emit that
    # encode_bmp doesn't.  Both are hand-built per spec so the decoder
    # is tested against the format, not against itself.
    w32 = bytearray(
        b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
        + struct.pack("<IiiHHI", 40, 2, 2, 1, 32, 0) + b"\x00" * 20
    )
    # bottom-up BGRX rows: pixel values chosen so every byte differs
    px32 = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[70, 80, 90], [100, 110, 120]]],
        np.uint8,
    )  # logical top-down RGB
    body32 = b""
    for y in (1, 0):  # bottom-up
        for x in (0, 1):
            r, g, b = px32[y, x]
            body32 += bytes([b, g, r, 0xAA])  # BGRX, padding byte set
    assert np.array_equal(M.decode_bmp(bytes(w32) + body32), px32)

    pal_hdr = (
        b"BM" + struct.pack("<IHHI", 0, 0, 0, 54 + 4 * 4)
        + struct.pack("<IiiHHI", 40, 3, 2, 1, 8, 0)
        + struct.pack("<IIIII", 0, 0, 0, 4, 0)  # sz,xppm,yppm,ClrUsed=4,Imp
    )
    palette = bytes(
        [0, 0, 255, 0,  0, 255, 0, 0,  255, 0, 0, 0,  7, 13, 29, 0]
    )  # BGRX entries: red, green, blue, (29,13,7)
    rows8 = bytes([3, 1, 2, 0]) + bytes([0, 2, 1, 0])  # bottom row, top row
    dec8 = M.decode_bmp(pal_hdr + palette + rows8)
    want8 = np.array(
        [[[255, 0, 0], [0, 0, 255], [0, 255, 0]],   # top row: idx 0,2,1
         [[29, 13, 7], [0, 255, 0], [0, 0, 255]]],  # bottom: idx 3,1,2
        np.uint8,
    )
    assert np.array_equal(dec8, want8)
    with pytest.raises(ValueError, match="palette index"):
        M.decode_bmp(pal_hdr + palette + bytes([9, 0, 0, 0, 0, 0, 0, 0]))

    # round 11: PPM maxval 65535 (2-byte big-endian samples per spec)
    img16 = ((np.arange(2 * 3 * 3).reshape(2, 3, 3) * 9973) % 65536).astype(
        np.uint16
    )
    p16 = M.encode_ppm(img16)
    assert p16.startswith(b"P6\n3 2\n65535\n")
    assert p16[13:15] == bytes([img16[0, 0, 0] >> 8, img16[0, 0, 0] & 0xFF])
    back16 = M.decode_ppm(p16)
    assert back16.dtype == np.uint16 and np.array_equal(back16, img16)
    with pytest.raises(ValueError, match="maxval"):
        M.decode_ppm(b"P6\n1 1\n70000\n" + b"\x00" * 6)
    # review findings (round 11): a big-endian uint16 array must take
    # the 16-bit path (dtype equality is byte-order sensitive); sub-255
    # maxvals need scaling and stay a declared seam; decode_real keeps
    # its uint8 contract by refusing 16-bit PPMs
    pbe = M.encode_ppm(img16.astype(">u2"))
    assert pbe == p16
    with pytest.raises(NotImplementedError, match="sub-255 maxval"):
        M.decode_ppm(b"P6\n1 1\n31\n" + b"\x00\x00\x00")
    with pytest.raises(NotImplementedError, match="uint8 pixel"):
        M.decode_real(p16)


def test_multimodal_png_roundtrip_known_answer():
    """Round-7 (VERDICT r6 item #6): PNG decodes for real — stdlib zlib
    inflate + full scanline un-filtering.  Checks: (a) encode->decode is
    the identity under the rotating filter schedule (every un-filter path
    executes for h>=5) AND under all-None filtering, (b) the byte stream
    is a spec PNG (signature, IHDR geometry big-endian, IEND), (c) chunk
    CRC corruption is rejected, (d) unsupported color types raise the
    honest seam error, (e) decode_real dispatches on the 8-byte
    signature."""
    import struct
    import zlib

    import numpy as np
    import pytest

    img = (np.arange(6 * 5 * 3, dtype=np.uint32) * 41 % 256).astype(
        np.uint8
    ).reshape(6, 5, 3)
    png = M.encode_png(img)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack_from(">II", png, 16)  # IHDR data starts at 16
    assert (w, h) == (5, 6)
    assert png.endswith(
        b"IEND" + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
    )
    assert np.array_equal(M.decode_png(png), img)
    assert np.array_equal(
        M.decode_png(M.encode_png(img, filter_mode="none")), img
    )
    out = M.decode_real(png)
    assert (out["width"], out["height"], out["channels"]) == (5, 6, 3)
    assert np.array_equal(out["pixels"], img)

    # a larger random image stresses all five filters with full byte range
    rs = np.random.RandomState(11)
    big = rs.randint(0, 256, (17, 23, 3)).astype(np.uint8)
    assert np.array_equal(M.decode_png(M.encode_png(big)), big)

    corrupt = bytearray(png)
    corrupt[20] ^= 0xFF  # IHDR payload byte -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(corrupt))

    # round 10: PALETTE PNGs (color type 3) round-trip for real — was a
    # declared seam.  The bpp=1 un-filter paths all execute (rotating
    # filters, h>=5); decode returns palette[index] exactly; a stream
    # indexing past its PLTE raises the documented ValueError.
    pal = rs.randint(0, 256, (256, 3)).astype(np.uint8)
    idx = rs.randint(0, 256, (9, 13)).astype(np.uint8)
    ppng = M.encode_png_palette(idx, pal)
    assert np.array_equal(M.decode_png(ppng), pal[idx])
    pal8 = rs.randint(0, 256, (8, 3)).astype(np.uint8)
    idx8 = rs.randint(0, 8, (7, 4)).astype(np.uint8)
    assert np.array_equal(
        M.decode_png(M.encode_png_palette(idx8, pal8)), pal8[idx8]
    )
    with pytest.raises(ValueError, match="out of palette range"):
        M.encode_png_palette(np.full((2, 2), 9, np.uint8), pal8)

    # round 10: every 8-bit color type round-trips — gray (0),
    # gray+alpha (4), RGBA (6) join truecolor/palette; channel count
    # drives the color type and the bpp-sized un-filter distance
    for ch in (1, 2, 4):
        imc = rs.randint(0, 256, (11, 6, ch)).astype(np.uint8)
        outc = M.decode_png(M.encode_png(imc))
        assert outc.shape == (11, 6, ch) and np.array_equal(outc, imc), ch

    # round 11: 16-BIT depth round-trips (big-endian sample pairs over
    # the same byte-wise filters) for every non-palette color type, and
    # ADAM7 INTERLACE round-trips at both depths — including dimensions
    # where several passes are empty (1xN, Nx1, under-8 sizes), which
    # per spec contribute zero bytes.  uint16 in -> uint16 out.
    for ch in (1, 2, 3, 4):
        im16 = rs.randint(0, 65536, (13, 11, ch)).astype(np.uint16)
        o16 = M.decode_png(M.encode_png(im16))
        assert o16.dtype == np.uint16 and np.array_equal(o16, im16), ch
    for hh, ww in ((13, 11), (8, 8), (1, 9), (5, 1), (3, 3)):
        i8 = rs.randint(0, 256, (hh, ww, 3)).astype(np.uint8)
        i16 = rs.randint(0, 65536, (hh, ww, 3)).astype(np.uint16)
        assert np.array_equal(M.decode_png(M.encode_png(i8, interlace=True)), i8)
        assert np.array_equal(
            M.decode_png(M.encode_png(i16, interlace=True)), i16
        ), (hh, ww)
    # interlaced palette PNG resolves through PLTE identically
    assert np.array_equal(
        M.decode_png(M.encode_png_palette(idx8, pal8, interlace=True)),
        pal8[idx8],
    )
    # a truncated interlaced payload fails as the documented ValueError
    il_png = M.encode_png(big, interlace=True)
    raw_full = zlib.decompress(
        il_png[il_png.find(b"IDAT") + 4 : il_png.rfind(b"IEND") - 8]
    )
    short = zlib.compress(raw_full[:-3])

    def _chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    hacked = (
        il_png[: il_png.find(b"IDAT") - 4]
        + _chunk(b"IDAT", short)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="payload size mismatch"):
        M.decode_png(hacked)
    # round-11 fuzz finding: a mid-stream-truncated (not just short)
    # IDAT makes zlib raise — must surface as the documented ValueError
    cut = (
        il_png[: il_png.find(b"IDAT") - 4]
        + _chunk(b"IDAT", zlib.compress(raw_full)[:-5])
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bad IDAT"):
        M.decode_png(cut)

    # round 11b: SUB-BYTE depths close the last PNG seam — gray 1/2/4
    # (values on the exact 255/(2^d-1) grid round-trip through MSB-first
    # packed scanlines) and palette 1/2/4 (indices < 2^d), interlaced
    # and not.  Widths straddle byte boundaries so row padding executes.
    for d in (1, 2, 4):
        sc = {1: 255, 2: 85, 4: 17}[d]
        g = (rs.randint(0, 1 << d, (7, 13)) * sc).astype(np.uint8)
        for il in (False, True):
            o = M.decode_png(M.encode_png(g, interlace=il, depth=d))
            assert o.shape == (7, 13, 1) and np.array_equal(o[:, :, 0], g), (
                d, il,
            )
        pal_d = rs.randint(0, 256, (1 << d, 3)).astype(np.uint8)
        idx_d = rs.randint(0, 1 << d, (9, 11)).astype(np.uint8)
        for il in (False, True):
            assert np.array_equal(
                M.decode_png(
                    M.encode_png_palette(idx_d, pal_d, interlace=il, depth=d)
                ),
                pal_d[idx_d],
            ), (d, il)
    # off-grid sub-byte samples and over-depth palette indices are
    # encode-time errors
    with pytest.raises(ValueError, match="multiples"):
        M.encode_png(np.full((2, 2), 3, np.uint8), depth=2)
    with pytest.raises(ValueError, match="out of depth"):
        M.encode_png_palette(np.full((2, 2), 4, np.uint8), pal8, depth=2)

    # the full spec depth/color matrix decodes, so any rejected combo is
    # SPEC-INVALID -> ValueError (16-bit palette, depth 3, sub-byte
    # truecolor/RGBA, unknown color type); no NotImplementedError
    # remains in the PNG codec
    for depth, ct in ((16, 3), (3, 0), (4, 2), (2, 6), (8, 1)):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, ct, 0, 0, 0)
        with pytest.raises(ValueError, match="invalid IHDR"):
            M.decode_png(b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr))


def test_multimodal_jpeg_roundtrip_known_answer():
    """Round-8 (VERDICT r7 item #3): baseline JPEG decodes for real —
    canonical Huffman entropy decode with byte unstuffing, dequant, 8x8
    IDCT, YCbCr->RGB.  Checks: (a) the full pixel pipeline is bit-exact
    on flat-block images (DC quant step 8 divides 8*(v-128)) including
    edge-replication padding; (b) the entropy layer round-trips arbitrary
    sparse coefficient blocks integer-exactly, including ZRL (zero runs
    > 15), negative magnitudes, cross-block DC prediction, and forced
    0xFF byte stuffing; (c) 4:4:4 color decode equals the analytic
    YCbCr round trip; (d) textured content with an all-ones quant table
    reconstructs within +-1; (e) 4:2:0 chroma subsampling (round 9)
    round-trips EXACTLY on 16x16-flat-block color — the box-mean
    downsample and replication upsample are exact inverses on constant
    chroma — including non-MCU-aligned dims; (f) progressive streams and
    sampling factors above 2 raise the honest seam error, truncation
    raises ValueError; (g) decode_real dispatches on the FFD8 magic."""
    import numpy as np
    import pytest

    # (a) flat-block grayscale, non-block-aligned dims (padding executes)
    y, x = np.indices((11, 13))
    img = ((7 * 31 + (y // 8) * 7 + (x // 8) * 13) % 256).astype(np.uint8)
    jp = M.encode_jpeg(img)
    assert jp[:2] == b"\xff\xd8" and jp[-2:] == b"\xff\xd9"
    assert np.array_equal(M.decode_jpeg(jp), img)

    # (b) entropy-exact coefficient round trip: sparse ACs with a >15
    # zero run (ZRL), negatives, DC prediction across blocks, and a
    # size-11 DC whose code+extra bits force a stuffed 0xFF byte
    blocks = np.zeros((1, 3, 64), np.int32)
    blocks[0, 0, 0] = 1024  # size-11 DC -> leading 0xFF -> stuffing
    blocks[0, 0, 1] = -9
    blocks[0, 0, 40] = 5  # 38 zeros after k=1 -> two ZRLs
    blocks[0, 1, 0] = -300  # negative DC diff of magnitude 1324
    blocks[0, 2, 63] = -1  # coefficient at the last zigzag slot (no EOB)
    jp2 = M.encode_jpeg_coeffs(blocks, 24, 8)
    body = jp2[jp2.find(b"\xff\xda") + 10 : -2]
    assert b"\xff\x00" in body  # stuffing really occurred
    _px, coeffs = M.decode_jpeg(jp2, return_coeffs=True)
    assert np.array_equal(coeffs[0], blocks)

    # (c) color 4:4:4: decode equals the analytic YCbCr round trip on a
    # flat-block RGB image (DCT path exact per plane, color transform
    # deterministic)
    y, x = np.indices((10, 12))
    rgb = np.stack(
        [((5 * 31 + (y // 8) * 7 + (x // 8) * 13 + c * 41) % 256) for c in range(3)],
        axis=-1,
    ).astype(np.uint8)
    dec = M.decode_jpeg(M.encode_jpeg(rgb))
    assert np.array_equal(dec, M.ycbcr_to_rgb(M.rgb_to_ycbcr(rgb)))

    # (d) textured grayscale with quant steps 1: reconstruction within +-1
    rs = np.random.RandomState(3)
    tex = rs.randint(0, 256, (24, 33)).astype(np.uint8)
    dec = M.decode_jpeg(M.encode_jpeg(tex, qtable=np.ones((8, 8), int)))
    assert np.abs(dec.astype(int) - tex.astype(int)).max() <= 1

    # (e) 4:2:0: exact round trip on 16x16-flat-block color (chroma
    # constant per MCU, so 2x2 box mean + replication is lossless), at
    # MCU-aligned AND non-aligned dims; SOF carries the 0x22/0x11 factors
    y, x = np.indices((32, 48))
    rgb16 = np.stack(
        [((3 * 31 + (y // 16) * 7 + (x // 16) * 13 + c * 41) % 256) for c in range(3)],
        axis=-1,
    ).astype(np.uint8)
    jp420 = M.encode_jpeg(rgb16, subsampling="4:2:0")
    sof = jp420.find(b"\xff\xc0")
    assert (jp420[sof + 11], jp420[sof + 14], jp420[sof + 17]) == (0x22, 0x11, 0x11)
    assert np.array_equal(
        M.decode_jpeg(jp420), M.ycbcr_to_rgb(M.rgb_to_ycbcr(rgb16))
    )
    y, x = np.indices((19, 21))
    rgbna = np.stack(
        [((9 * 31 + (y // 16) * 7 + (x // 16) * 13 + c * 41) % 256) for c in range(3)],
        axis=-1,
    ).astype(np.uint8)
    assert np.array_equal(
        M.decode_jpeg(M.encode_jpeg(rgbna, subsampling="4:2:0")),
        M.ycbcr_to_rgb(M.rgb_to_ycbcr(rgbna)),
    )

    # (e2) round 10: the two seams VERDICT r9 left — wider subsampling
    # and restart intervals — now decode for real.
    #  - 4:2:2 / 4:1:1: exact on flat-chroma MCUs (box mean + replication
    #    are inverses on constant chroma), SOF factors as declared
    for sub_name, samp, my, mx in (("4:2:2", 0x21, 8, 16), ("4:1:1", 0x41, 8, 32)):
        y, x = np.indices((24, 64))
        rgbs = np.stack(
            [
                ((11 * 31 + (y // my) * 7 + (x // mx) * 13 + c * 41) % 256)
                for c in range(3)
            ],
            axis=-1,
        ).astype(np.uint8)
        jps = M.encode_jpeg(rgbs, subsampling=sub_name)
        sof = jps.find(b"\xff\xc0")
        assert jps[sof + 11] == samp, sub_name
        assert np.array_equal(
            M.decode_jpeg(jps), M.ycbcr_to_rgb(M.rgb_to_ycbcr(rgbs))
        ), sub_name
    #  - restart intervals: DRI segment emitted, RSTn markers in the
    #    entropy stream, decode identical to the ri=0 stream at several
    #    cadences (incl. ri=1, max marker churn) and across subsamplings;
    #    a wrong RST sequence number raises the documented ValueError
    base420 = M.decode_jpeg(M.encode_jpeg(rgb16, subsampling="4:2:0"))
    for ri in (1, 2, 5):
        jpr = M.encode_jpeg(rgb16, subsampling="4:2:0", restart_interval=ri)
        assert b"\xff\xdd" in jpr and b"\xff\xd0" in jpr
        assert np.array_equal(M.decode_jpeg(jpr), base420), f"ri={ri}"
    jpg_ri = M.encode_jpeg(img, restart_interval=1)
    assert np.array_equal(M.decode_jpeg(jpg_ri), M.decode_jpeg(M.encode_jpeg(img)))
    broken = bytearray(jpg_ri)
    k = broken.find(b"\xff\xd0")
    broken[k + 1] = 0xD4  # out-of-sequence restart marker
    with pytest.raises(ValueError, match="expected RST0"):
        M.decode_jpeg(bytes(broken))

    # (e3) round 10: PROGRESSIVE JPEG (SOF2, Annex G) decodes for real —
    # the largest declared codec seam.  The progressive encoder emits the
    # SAME quantized coefficients as the baseline encoder, so decode must
    # agree COEFFICIENT-exactly; exercised across refinement depths
    # (al_levels chains Al=L..0 through DC and AC refinement scans with
    # EOB runs and correction-bit buffering) and content classes (random
    # color, flat = max EOB runs, all-ones qtable = max correction
    # traffic).  Deeper per-class coverage lives in the dev-time stress
    # battery this section distills.
    for lv, im, qq in (
        (1, rgb16, None),
        (2, img, None),
        (3, rs.randint(0, 256, (17, 22, 3)).astype(np.uint8), None),
        (2, rs.randint(0, 256, (16, 16, 3)).astype(np.uint8), np.ones((8, 8), int)),
        (1, np.full((24, 24, 3), 128, np.uint8), None),
    ):
        jbase = M.encode_jpeg(im, qtable=qq)
        jprog = M.encode_jpeg_progressive(im, qtable=qq, al_levels=lv)
        sofp = jprog.find(b"\xff\xc2")
        assert sofp > 0 and jprog.count(b"\xff\xda") >= 4  # SOF2, multi-scan
        pxb, cfb = M.decode_jpeg(jbase, return_coeffs=True)
        pxp, cfp = M.decode_jpeg(jprog, return_coeffs=True)
        assert all(np.array_equal(a, b) for a, b in zip(cfb, cfp)), lv
        assert np.array_equal(pxb, pxp), lv
    # a baseline stream's SOF flipped to SOF2 is now MALFORMED progressive
    # (its SOS claims a DC scan spanning Se=63), not an unsupported seam
    progressive = bytearray(jp)
    sof = progressive.find(b"\xff\xc0")
    progressive[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan"):
        M.decode_jpeg(bytes(progressive))

    # (f) honest seams: arithmetic coding (SOF9), sampling factors above
    # 4, and fractional factor ratios raise NotImplementedError;
    # truncation raises ValueError
    arith = bytearray(jp)
    sof = arith.find(b"\xff\xc0")
    arith[sof + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="SOF"):
        M.decode_jpeg(bytes(arith))
    jp3 = M.encode_jpeg(rgb)
    sub = bytearray(jp3)
    sof = sub.find(b"\xff\xc0")
    sub[sof + 11] = 0x51  # component 1 sampling factor 5x1: above 4
    with pytest.raises(NotImplementedError, match="sampling factors"):
        M.decode_jpeg(bytes(sub))
    frac = bytearray(jp3)
    sof = frac.find(b"\xff\xc0")
    frac[sof + 11] = 0x31  # Y 3x1 vs Cb 2x1: 3 % 2 != 0 -> fractional
    frac[sof + 14] = 0x21
    with pytest.raises(NotImplementedError, match="fractional"):
        M.decode_jpeg(bytes(frac))
    with pytest.raises(ValueError):
        M.decode_jpeg(jp[: len(jp) // 2])
    # structural defects raise the documented ValueError, never
    # TypeError/StopIteration/KeyError (round-8 code-review finding)
    sos_at = jp.find(b"\xff\xda")
    headers_only = jp[:2] + jp[sos_at:]  # SOS with no SOF/DQT/DHT seen
    with pytest.raises(ValueError, match="SOS before SOF0"):
        M.decode_jpeg(headers_only)
    bad_comp = bytearray(jp)
    bad_comp[sos_at + 5] = 9  # scan names component id 9 (SOF defines 1)
    with pytest.raises(ValueError, match="undefined component"):
        M.decode_jpeg(bytes(bad_comp))
    bad_tbl = bytearray(jp)
    bad_tbl[sos_at + 6] = 0x33  # dc table 3 / ac table 3: never defined
    with pytest.raises(ValueError, match="undefined Huffman"):
        M.decode_jpeg(bytes(bad_tbl))

    # (f2) malformed-stream fuzz contract (round 10): every truncation
    # and a battery of single-bit mutations over baseline, subsampled+
    # restart, and progressive streams raise ONLY the documented
    # ValueError/NotImplementedError — never struct.error, IndexError,
    # or OverflowError (the round-10 fuzz found a DHT bound gap, a SOF
    # length gap, and a DC-predictor int32 runaway; all guarded now)
    frs = np.random.RandomState(17)
    small = frs.randint(0, 256, (9, 10, 3)).astype(np.uint8)
    for blob in (
        M.encode_jpeg(small),
        M.encode_jpeg(small, subsampling="4:2:0", restart_interval=1),
        M.encode_jpeg_progressive(small, al_levels=2),
    ):
        for cut in range(2, len(blob), 9):
            with pytest.raises((ValueError, NotImplementedError)):
                M.decode_jpeg(blob[:cut])
        for _ in range(400):
            i = int(frs.randint(2, len(blob)))
            b = bytearray(blob)
            b[i] ^= 1 << int(frs.randint(0, 8))
            try:
                M.decode_jpeg(bytes(b))
            except (ValueError, NotImplementedError):
                pass  # the documented contract; silent success also ok

    # (f2b) targeted DRI length corruption (ADVICE r10): the seeded
    # battery above never lands on the DRI seglen byte, but an
    # exhaustive 1-bit fuzz does — a DRI segment whose length field
    # claims an empty payload must raise the documented ValueError,
    # not struct.error from an unguarded unpack.
    dri_blob = M.encode_jpeg(small, restart_interval=1)
    dri_at = dri_blob.find(b"\xff\xdd")
    assert dri_at > 0
    empty_dri = bytearray(dri_blob)
    empty_dri[dri_at + 2 : dri_at + 4] = (2).to_bytes(2, "big")  # 0-byte payload
    with pytest.raises(ValueError, match="truncated DRI"):
        M.decode_jpeg(bytes(empty_dri))

    # (f) decode_real dispatch: grayscale -> HxWx1, color -> HxWx3
    out = M.decode_real(jp)
    assert (out["width"], out["height"], out["channels"]) == (13, 11, 1)
    assert np.array_equal(out["pixels"][:, :, 0], img)
    out3 = M.decode_real(M.encode_jpeg(rgb))
    assert out3["channels"] == 3


def test_multimodal_wav_roundtrip_known_answer():
    """Round-8 companion to the JPEG test: RIFF/WAVE 16-bit PCM decodes
    for real.  Checks: (a) mono and stereo round-trip bitwise with the
    header fields (rate, channels, sizes) intact; (b) unknown RIFF
    chunks — including odd-length ones needing pad bytes — are skipped
    per spec; (c) float WAV raises the honest seam error and truncation
    raises ValueError."""
    import struct

    import numpy as np
    import pytest

    rs = np.random.RandomState(8)
    mono = rs.randint(-32768, 32768, 200).astype(np.int16)
    wav = M.encode_wav(mono, 22050)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    assert len(wav) == 44 + 2 * 200
    out = M.decode_wav(wav)
    assert (out["sample_rate"], out["n_channels"], out["n_samples"]) == (
        22050, 1, 200,
    )
    assert np.array_equal(out["samples"][:, 0], mono)

    stereo = rs.randint(-32768, 32768, (64, 2)).astype(np.int16)
    out2 = M.decode_wav(M.encode_wav(stereo, 44100))
    assert out2["n_channels"] == 2
    assert np.array_equal(out2["samples"], stereo)

    # odd-length unknown chunk before fmt: must be skipped with padding
    extra = b"LIST" + struct.pack("<I", 5) + b"abcde" + b"\x00"
    spliced = wav[:12] + extra + wav[12:]
    spliced = (
        spliced[:4]
        + struct.pack("<I", len(spliced) - 8)
        + spliced[8:]
    )
    out3 = M.decode_wav(spliced)
    assert np.array_equal(out3["samples"][:, 0], mono)

    # round 10: IEEE-float and wider integer PCM decode for real (float
    # was a declared seam).  float32/float64 round-trip bitwise via
    # encode_wav's dtype dispatch (format tag 3); 24-bit sign-extends
    # from packed 3-byte frames; 8-bit stays unsigned per spec.
    for dt in (np.float32, np.float64):
        f = rs.randn(151).astype(dt)
        outf = M.decode_wav(M.encode_wav(f, 8000))
        assert outf["samples"].dtype == dt
        assert np.array_equal(outf["samples"][:, 0], f)

    def raw_wav(fmtcode, bits, payload):
        fmt = struct.pack("<HHIIHH", fmtcode, 1, 16000, 2000, 2, bits)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    v24 = np.array([0, 1, -1, 8388607, -8388608, -654321], np.int32)
    p24 = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in v24)
    out24 = M.decode_wav(raw_wav(1, 24, p24))
    assert out24["samples"].dtype == np.int32
    assert np.array_equal(out24["samples"][:, 0], v24)
    out8 = M.decode_wav(raw_wav(1, 8, bytes([0, 255, 128, 7])))
    assert out8["samples"].dtype == np.uint8
    assert list(out8["samples"][:, 0]) == [0, 255, 128, 7]

    # honest seams: compressed formats beyond the two ADPCMs (e.g. MP3,
    # format 85), 16-bit float, 12-bit int raise; a format-2 stream
    # without its required fmt extension is MALFORMED -> ValueError
    with pytest.raises(NotImplementedError, match="PCM"):
        M.decode_wav(raw_wav(85, 0, b"\x00\x00"))
    with pytest.raises(ValueError, match="missing extension"):
        M.decode_wav(raw_wav(2, 4, b"\x00\x00"))
    with pytest.raises(NotImplementedError, match="float width"):
        M.decode_wav(raw_wav(3, 16, b"\x00\x00"))
    with pytest.raises(NotImplementedError, match="integer PCM width"):
        M.decode_wav(raw_wav(1, 12, b"\x00\x00"))
    with pytest.raises(ValueError):
        M.decode_wav(wav[:30])

    # round 11: IMA/DVI ADPCM (format 0x11) decodes for real — was the
    # declared audio seam.  (a) a constant signal reconstructs EXACTLY
    # (block header seeds the predictor at sample 0, all-zero nibbles
    # hold it); (b) a moderate sine tracks within the quantizer's
    # adaptation bound, mono and stereo, across block boundaries;
    # (c) the fact chunk trims final-block padding to the exact input
    # length for lengths straddling the 505-sample block; (d) malformed
    # streams (step index > 88, misaligned data) raise ValueError.
    const = np.full(1200, -1234, np.int16)
    dc = M.decode_wav(M.encode_wav_adpcm(const, 8000))
    assert dc["sample_rate"] == 8000 and dc["n_samples"] == 1200
    assert np.array_equal(dc["samples"][:, 0], const)
    tt = np.arange(3000)
    sine = (8000 * np.sin(2 * np.pi * tt / 200)).astype(np.int16)
    for sig in (sine, np.stack([sine, (sine // 2).astype(np.int16)], 1)):
        ds = M.decode_wav(M.encode_wav_adpcm(sig, 22050))
        ref = sig[:, None] if sig.ndim == 1 else sig
        assert ds["n_samples"] == 3000
        err = np.abs(
            ds["samples"].astype(np.int32) - ref.astype(np.int32)
        ).max()
        assert err < 2000, err
    for n in (1, 504, 505, 506, 1011):
        xs = (1000 * np.sin(np.arange(n) / 10)).astype(np.int16)
        assert M.decode_wav(M.encode_wav_adpcm(xs))["n_samples"] == n
    ab = bytearray(M.encode_wav_adpcm(sine))
    data_at = bytes(ab).find(b"data")
    ab[data_at + 8 + 2] = 99  # block-0 step index 99 > 88
    with pytest.raises(ValueError, match="step index"):
        M.decode_wav(bytes(ab))

    # round 11b: MS ADPCM (format 2) — the LAST audio seam — decodes for
    # real: 2-tap linear prediction + adaptive delta tracks the sine far
    # tighter than IMA (seed samples + seeded delta), constants are
    # exact, the fact chunk trims across the 500-sample block boundary,
    # and an out-of-range per-block predictor index raises ValueError.
    dm = M.decode_wav(M.encode_wav_ms_adpcm(const, 8000))
    assert dm["n_samples"] == 1200 and np.array_equal(dm["samples"][:, 0], const)
    for sig in (sine, np.stack([sine, (sine // 2).astype(np.int16)], 1)):
        dms = M.decode_wav(M.encode_wav_ms_adpcm(sig, 22050))
        ref = sig[:, None] if sig.ndim == 1 else sig
        err = np.abs(
            dms["samples"].astype(np.int32) - ref.astype(np.int32)
        ).max()
        assert err < 200, err
    for n in (1, 499, 500, 501, 1001):
        xs = (1500 * np.sin(np.arange(n) / 15)).astype(np.int16)
        assert M.decode_wav(M.encode_wav_ms_adpcm(xs))["n_samples"] == n
    mb = bytearray(M.encode_wav_ms_adpcm(sine))
    mat = bytes(mb).find(b"data")
    mb[mat + 8] = 9  # bPredictor 9 >= wNumCoef 7
    with pytest.raises(ValueError, match="predictor out of range"):
        M.decode_wav(bytes(mb))

    # round 11c: G.711 mu-law/A-law (formats 7/6) decode for real.
    # (a) EXHAUSTIVE companding domain: every int16 value round-trips
    # within the format's exact quantization ceiling (mu 644 at the
    # clip, A 512), and every 8-bit code is a fixed point of
    # expand->compress EXCEPT mu-law 0x7F (negative zero re-encodes to
    # +0 = 0xFF — inherent, same in the CCITT reference); (b) spec
    # known answers: mu(0)=0xFF, mu(-1)=0x7F, A(0)=0xD5; (c) the WAV
    # layer frames codes with the non-PCM fact chunk, mono and stereo;
    # (d) a 16-bit G.711 stream is malformed -> ValueError.
    full = np.arange(-32768, 32768, dtype=np.int16)
    for comp, expand, ceil, skip in (
        (M._ulaw_compress, M._ulaw_expand, 644, (0x7F,)),
        (M._alaw_compress, M._alaw_expand, 512, ()),
    ):
        dec = expand(comp(full))
        assert np.abs(dec.astype(np.int32) - full.astype(np.int32)).max() == ceil
        codes = np.arange(256, dtype=np.uint8)
        rt = comp(expand(codes))
        assert set(codes[rt != codes].tolist()) == set(skip)
    assert M._ulaw_compress(np.array([0]))[0] == 0xFF
    assert M._ulaw_compress(np.array([-1]))[0] == 0x7F
    assert M._alaw_compress(np.array([0]))[0] == 0xD5
    g = rs.randint(-32768, 32768, 300).astype(np.int16)
    for enc, ceil in ((M.encode_wav_ulaw, 644), (M.encode_wav_alaw, 512)):
        og = M.decode_wav(enc(g, 8000))
        assert (og["sample_rate"], og["n_samples"]) == (8000, 300)
        assert og["samples"].dtype == np.int16
        assert np.abs(
            og["samples"][:, 0].astype(np.int32) - g.astype(np.int32)
        ).max() <= ceil
    gs = rs.randint(-32768, 32768, (41, 2)).astype(np.int16)
    ogs = M.decode_wav(M.encode_wav_ulaw(gs, 16000))
    assert ogs["n_channels"] == 2 and ogs["n_samples"] == 41
    assert np.abs(
        ogs["samples"].astype(np.int32) - gs.astype(np.int32)
    ).max() <= 644
    with pytest.raises(ValueError, match="8-bit"):
        M.decode_wav(raw_wav(7, 16, b"\x00\x00"))
    # round-11 fuzz finding: a fmt chunk with nChannels=0 must raise
    # ValueError, not ZeroDivisionError in the ADPCM block math
    zch = struct.pack("<HHIIHH", 0x11, 0, 16000, 2000, 0, 4)
    zwav = (
        b"RIFF" + struct.pack("<I", 38) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(zch)) + zch
        + b"data" + struct.pack("<I", 2) + b"\x00\x00"
    )
    with pytest.raises(ValueError, match="zero channels"):
        M.decode_wav(zwav)
    # review findings (round 11): a fmt chunk shorter than 16 bytes must
    # raise (not read the next chunk's bytes as format fields), and an
    # odd-length G.711 data chunk carries the RIFF pad byte — the size
    # field stays odd, the file length is even, and the decoder ignores
    # the pad via the declared length
    short = (
        b"RIFF" + struct.pack("<I", 24) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="short fmt"):
        M.decode_wav(short)
    odd = M.encode_wav_ulaw(g[:65], 8000)
    assert len(odd) % 2 == 0
    (riff_sz,) = struct.unpack_from("<I", odd, 4)
    assert riff_sz + 8 == len(odd)
    dat = odd.find(b"data")
    (dlen,) = struct.unpack_from("<I", odd, dat + 4)
    assert dlen == 65  # size field excludes the pad byte per RIFF
    oo = M.decode_wav(odd)
    assert oo["n_samples"] == 65
    assert np.abs(
        oo["samples"][:, 0].astype(np.int32) - g[:65].astype(np.int32)
    ).max() <= 644


def test_multimodal_avi_roundtrip_known_answer():
    """Round 11: VIDEO gets a real container — uncompressed-DIB AVI
    (RIFF 'AVI ', hdrl avih + 'vids'/'DIB ' strl, movi of '00db'
    bottom-up padded-BGR frames, idx1).  Checks: (a) encode->decode is
    the identity on arbitrary frames across paddings and frame counts;
    (b) header geometry/fps survive; (c) the RIFF length field is
    exact; (d) truncation raises ValueError; (e) an inter-frame
    codec'd stream (H264 handler) raises the honest
    NotImplementedError — that seam remains; (f) frame sampling (every
    k-th) over decoded frames is exact — the l26 shape; (g) round 11:
    Motion-JPEG encodes/decodes for real through the container's own
    JPEG codec — gray-valued 8x8-flat-block frames round-trip EXACTLY
    (DC-only blocks, the l67 exactness channel), arbitrary frames
    track within JPEG's quantization, grayscale scans replicate to 3
    channels, and a geometry-mismatched frame raises ValueError."""
    import struct

    import numpy as np
    import pytest

    rs = np.random.RandomState(31)
    for n, h, w in [(1, 1, 1), (3, 4, 6), (5, 7, 5), (4, 3, 13)]:
        fr = rs.randint(0, 256, (n, h, w, 3)).astype(np.uint8)
        out = M.decode_avi(M.encode_avi(fr, 24))
        assert (out["width"], out["height"], out["n_frames"], out["fps"]) == (
            w, h, n, 24,
        )
        assert np.array_equal(out["frames"], fr)
    fr = rs.randint(0, 256, (9, 5, 7, 3)).astype(np.uint8)
    avi = M.encode_avi(fr, 12)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    (riff_len,) = struct.unpack_from("<I", avi, 4)
    assert riff_len + 8 == len(avi)
    sampled = M.decode_avi(avi)["frames"][::4]
    assert np.array_equal(sampled, fr[::4]) and sampled.shape[0] == 3
    with pytest.raises(ValueError):
        M.decode_avi(avi[: len(avi) // 2])
    hacked = bytearray(avi)
    at = bytes(hacked).find(b"DIB ")
    hacked[at : at + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="codec"):
        M.decode_avi(bytes(hacked))

    # (g) Motion-JPEG: flat-block gray-valued RGB frames are exact
    # (Cb=Cr=128 and DC-only Y survive quantization bit-for-bit);
    # arbitrary frames stay within JPEG's error envelope.
    import struct as _st

    k, fh, fw = 4, 16, 24
    fi, fy, fx = np.indices((k, fh, fw), dtype=np.int64)
    flat = ((fi * 29 + (fy // 8) * 7 + (fx // 8) * 13) % 256).astype(np.uint8)
    mfr = np.repeat(flat[:, :, :, None], 3, axis=3)
    mavi = M.encode_avi(mfr, 15, codec="MJPG")
    mdec = M.decode_avi(mavi)
    assert (mdec["width"], mdec["height"], mdec["n_frames"], mdec["fps"]) == (
        fw, fh, k, 15,
    )
    assert np.array_equal(mdec["frames"], mfr)
    lossy = rs.randint(0, 256, (3, 16, 16, 3)).astype(np.uint8)
    ml = M.decode_avi(M.encode_avi(lossy, 10, codec="MJPG"))["frames"]
    assert np.abs(ml.astype(np.int32) - lossy.astype(np.int32)).max() < 128

    def chunk(cid, data):
        return (
            cid + _st.pack("<I", len(data)) + data
            + (b"\x00" * (len(data) & 1))
        )

    def lst(kind, payload):
        return b"LIST" + _st.pack("<I", 4 + len(payload)) + kind + payload

    def mini_mjpg_avi(w_, h_, payloads):
        """Minimal MJPG AVI around arbitrary frame payloads (tests the
        decoder against external-writer layouts encode_avi never emits,
        e.g. grayscale scans)."""
        avih_ = _st.pack(
            "<IIIIIIIIIIIIII", 100000, 0, 0, 0, len(payloads), 0, 1, 0,
            w_, h_, 0, 0, 0, 0,
        )
        strh_ = b"vids" + b"MJPG" + _st.pack(
            "<IHHIIIIIIIII", 0, 0, 0, 0, 1, 10, 0, len(payloads), 0, 0,
            0xFFFFFFFF, 0,
        ) + _st.pack("<hhhh", 0, 0, w_, h_)
        strf_ = _st.pack(
            "<IiiHHIIiiII", 40, w_, h_, 1, 24, M._MJPG_FOURCC, 0, 0, 0, 0, 0
        )
        hdrl_ = lst(
            b"hdrl",
            chunk(b"avih", avih_)
            + lst(b"strl", chunk(b"strh", strh_) + chunk(b"strf", strf_)),
        )
        movi_ = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
        body_ = hdrl_ + movi_
        return b"RIFF" + _st.pack("<I", 4 + len(body_)) + b"AVI " + body_

    gray = ((np.indices((8, 16))[1] // 8) * 100 + 20).astype(np.uint8)
    gdec = M.decode_avi(mini_mjpg_avi(16, 8, [M.encode_jpeg(gray)] * 2))
    assert gdec["frames"].shape == (2, 8, 16, 3)
    assert np.array_equal(gdec["frames"], np.repeat(gray[None, :, :, None], 3, 3).repeat(2, 0).reshape(2, 8, 16, 3))
    with pytest.raises(ValueError, match="geometry"):
        M.decode_avi(mini_mjpg_avi(17, 8, [M.encode_jpeg(gray)]))

    # review finding (round 11): an 'auds' strl listed BEFORE the video
    # strl must not have its WAVEFORMAT strf parsed as a
    # BITMAPINFOHEADER — splice one into a real DIB AVI's hdrl
    astrh = b"auds" + b"\x00" * 52
    astrf = _st.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16) + b"\x00" * 24
    auds_strl = lst(b"strl", chunk(b"strh", astrh) + chunk(b"strf", astrf))
    base = M.encode_avi(fr, 12)  # fr from the sampling block above
    hat = base.find(b"hdrl")  # hdrl LIST: kind at hat, payload follows
    (hlen,) = _st.unpack_from("<I", base, hat - 4)
    # insert the auds strl right after avih inside hdrl (before the
    # vids strl), growing the hdrl and RIFF lengths accordingly
    avih_end = base.find(b"avih") + 8 + 56
    patched = bytearray(base[:avih_end] + auds_strl + base[avih_end:])
    _st.pack_into("<I", patched, hat - 4, hlen + len(auds_strl))
    _st.pack_into("<I", patched, 4, len(patched) - 8)
    pdec = M.decode_avi(bytes(patched))
    assert np.array_equal(pdec["frames"], fr)
    # second-pass variant: a SHORT (44-byte) auds strh must still
    # reclassify the stream — fccType needs only 4 bytes.  Repro shape:
    # the vids strl's strf is too short to parse (< 40 bytes), so
    # `compression` is still unbound when the auds strl arrives; a
    # stale 'vids' type would parse the 40-byte WAVEFORMATEX as a
    # BITMAPINFOHEADER and misroute the whole file.  Hand-built DIB AVI
    # with exactly that hdrl; the movi frame must still decode.
    one = fr[:1]
    stride = ((3 * 7 + 3) // 4) * 4
    dib = one[0, ::-1, :, ::-1]
    dib = np.concatenate(
        [dib.reshape(5, 21), np.zeros((5, stride - 21), np.uint8)], axis=1
    ).tobytes()
    avih2 = _st.pack(
        "<IIIIIIIIIIIIII", 100000, 0, 0, 0, 1, 0, 2, 0, 7, 5, 0, 0, 0, 0
    )
    vstrh = b"vids" + b"DIB " + _st.pack(
        "<IHHIIIIIIIII", 0, 0, 0, 0, 1, 10, 0, 1, 0, 0, 0xFFFFFFFF, 0
    ) + _st.pack("<hhhh", 0, 0, 7, 5)
    hdrl2 = lst(
        b"hdrl",
        chunk(b"avih", avih2)
        + lst(b"strl", chunk(b"strh", vstrh) + chunk(b"strf", b"\x00" * 36))
        + lst(b"strl", chunk(b"strh", b"auds" + b"\x00" * 40)
              + chunk(b"strf", astrf)),
    )
    body2 = hdrl2 + lst(b"movi", chunk(b"00db", dib))
    crafted = b"RIFF" + _st.pack("<I", 4 + len(body2)) + b"AVI " + body2
    pdec2 = M.decode_avi(crafted)
    assert np.array_equal(pdec2["frames"], one)


def test_multimodal_resize_nearest_known_answer():
    """resize_nearest is a real nearest-neighbor kernel: downscaling a
    2x-upsampled image recovers the original exactly, and the index map
    matches the floor((i*src)/dst) convention."""
    import numpy as np

    img = (np.arange(4 * 6 * 3, dtype=np.uint32) * 53 % 256).astype(
        np.uint8
    ).reshape(4, 6, 3)
    up = M.resize_nearest(img, 12, 8)
    assert up.shape == (8, 12, 3)
    assert np.array_equal(M.resize_nearest(up, 6, 4), img)
    assert np.array_equal(up[1, 3], img[0, 1])  # floor(1*4/8), floor(3*6/12)


def test_approx_distinct_within_rsd(spark):
    """a4's tolerance audit: the within_rsd flag holds and the exact count
    it is judged against matches an independent computation."""
    reg = registry()
    got = (
        reg["a4_approx_distinct"].fn(spark, SF_DIR).toPandas().set_index("event_type")
    )
    exact = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .toPandas()
        .set_index("event_type")
    )
    j = got.join(exact)
    assert (j["exact_users"] == j["u"]).all()
    assert j["within_rsd"].all()


def test_xxhash_stable_across_runs(spark):
    """sf14b's known-answer probes hit their pinned XXH64(seed 42) values,
    the injectivity audit holds, and re-running is bit-identical."""
    reg = registry()
    h1 = reg["sf14b_xxhash"].fn(spark, SF_DIR).toPandas().sort_values("probe")
    h2 = reg["sf14b_xxhash"].fn(spark, SF_DIR).toPandas().sort_values("probe")
    assert (h1["h_xx"].to_numpy() == h2["h_xx"].to_numpy()).all()
    want = {
        "spark": -1960931134668248110,
        "": -7444071767201028348,
        "xxhash64": -5669603901411035060,
    }
    got = dict(zip(h1["probe"], h1["h_xx"]))
    assert got == want
    n_texts = (
        load_table(spark, SF_DIR, "documents")
        .select(F.countDistinct("text"))
        .collect()[0][0]
    )
    assert (h1["n_distinct_hashes"] == n_texts).all()


def test_dynamic_partition_overwrite_is_idempotent_backfill(spark, tmp_path_factory):
    """The 100-TB backfill pattern: re-writing ONE partition with
    partitionOverwriteMode=dynamic must replace only that partition and be
    idempotent — other partitions' bytes and rows untouched."""
    import os

    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table
    from tests.conftest import SF_DIR

    out = str(tmp_path_factory.mktemp("dpo")) + "/events_by_type"
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "etype", F.col("event_type")
    )
    ev.write.partitionBy("etype").mode("overwrite").parquet(out)
    before = {
        d: sorted(os.listdir(f"{out}/{d}"))
        for d in os.listdir(out)
        if d.startswith("etype=")
    }
    total_before = spark.read.parquet(out).count()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # backfill just the 'view' partition (same data -> idempotent)
        ev.filter(F.col("event_type") == "view").write.partitionBy("etype").mode(
            "overwrite"
        ).parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    after = {
        d: sorted(os.listdir(f"{out}/{d}"))
        for d in os.listdir(out)
        if d.startswith("etype=")
    }
    # untouched partitions keep their exact files; total rows unchanged
    for d in before:
        if d != "etype=view":
            assert after[d] == before[d], d
    assert spark.read.parquet(out).count() == total_before
    assert (
        spark.read.parquet(out).filter(F.col("etype") == "view").count()
        == ev.filter(F.col("event_type") == "view").count()
    )


def test_multimodal_resize_and_frames_shapes(spark):
    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.operators import multimodal as M
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    blobs = M.to_multimodal(docs)
    resized = M.fake_resize(blobs, width=8, height=8).collect()
    assert len(resized) == 50
    assert all(len(r["pixels"]) == 64 for r in resized)
    assert all(sum(r["pixels"]) % 997 == r["px_checksum"] for r in resized)
    frames = M.fake_frame_sample(blobs, frame_bytes=16, every_nth=4)
    got = frames.collect()
    # every sampled frame is full-size and indices step by 4
    assert all(len(r["frame"]) == 16 for r in got)
    by_doc: dict = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for idxs in by_doc.values():
        assert sorted(idxs) == list(range(0, 4 * len(idxs), 4))
    # fan-out cardinality: n_frames == floor(n_bytes/16) sampled every 4th
    n_chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    for doc_id, idxs in by_doc.items():
        expect = (n_chars[doc_id] // 16 + 3) // 4
        assert len(idxs) == expect


def test_approx_percentile_within_rank_error(spark):
    """a17's rank-error audit: every per-group GK quantile flag holds and
    the group counts match an independent computation."""
    reg = registry()
    got = (
        reg["a17_approx_percentile"].fn(spark, SF_DIR)
        .toPandas()
        .set_index("l_returnflag")
    )
    exact_n = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .count()
        .toPandas()
        .set_index("l_returnflag")
    )
    j = got.join(exact_n)
    assert (j["n"] == j["count"]).all()
    assert j["q25_ok"].all() and j["q50_ok"].all() and j["q75_ok"].all()


def test_freq_topk_superset_of_true_heavy_hitters(spark):
    """a18's guarantee audit: the emitted exact heavy-hitter set matches an
    independent computation and the superset flag (every true heavy hitter
    among the sketch candidates) holds."""
    reg = registry()
    out = reg["a18_freq_topk"].fn(spark, SF_DIR).toPandas()
    assert len(out) == 1
    got = set(filter(None, out["true_heavy_hitters"][0].split(",")))
    counts = load_table(spark, SF_DIR, "events").groupBy("event_type").count().toPandas()
    total = counts["count"].sum()
    truly_frequent = set(counts[counts["count"] > 0.1 * total]["event_type"])
    assert got == truly_frequent
    assert out["superset_ok"].all()


def test_compression_ratio_bounds_and_ordering(spark):
    """l40's R-tier invariants: every ratio in (0, 1.2] for ASCII text;
    a planted highly-repetitive doc compresses strictly below the corpus
    median; re-running yields identical values (zlib is deterministic)."""
    from google_analytics_dataframes_spark.operators.text import compression_ratio

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").limit(100)
    planted = docs.sparkSession.createDataFrame(
        [(10_000_000, "spam " * 200)], "doc_id long, text string"
    )
    both = docs.unionByName(planted)
    pdf = compression_ratio(both).toPandas().set_index("doc_id")
    assert ((pdf.zlib_ratio > 0) & (pdf.zlib_ratio <= 1.2)).all()
    median = pdf.drop(10_000_000).zlib_ratio.median()
    assert pdf.loc[10_000_000].zlib_ratio < median
    pdf2 = compression_ratio(both).toPandas().set_index("doc_id")
    assert (pdf.zlib_ratio == pdf2.zlib_ratio).all()


def test_stratified_sample_subset_reproducible_proportional(spark):
    """l24's R-tier invariant: sampleBy output is a subset of the source,
    bit-reproducible under the fixed seed, and each stratum's realized rate
    is within 4 binomial sigma of its requested fraction."""
    from google_analytics_dataframes_spark.operators.sampling import stratified_sample

    docs = load_table(spark, SF_DIR, "documents")
    fracs = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.2, "zh": 0.1}
    s1 = stratified_sample(docs, "lang", fracs).select("doc_id", "lang").toPandas()
    s2 = stratified_sample(docs, "lang", fracs).select("doc_id", "lang").toPandas()
    assert sorted(s1.doc_id) == sorted(s2.doc_id)  # seed-reproducible
    src = docs.select("doc_id", "lang").toPandas()
    assert set(s1.doc_id) <= set(src.doc_id)  # subset
    per_src = src.groupby("lang").size()
    per_samp = s1.groupby("lang").size()
    for lang, p in fracs.items():
        n = per_src.get(lang, 0)
        if n == 0:
            continue
        got = per_samp.get(lang, 0)
        sigma = (n * p * (1 - p)) ** 0.5
        assert abs(got - n * p) <= 4 * sigma + 1, (lang, got, n * p)


def test_write_clustered_gives_prunable_row_groups(spark, tmp_path_factory):
    """io.write_clustered must produce files whose parquet row-group
    min/max stats on the cluster key are near-disjoint — the property that
    lets a predicate scan skip row groups.  Checked from the parquet
    footers via pyarrow: with range clustering, the total stat span per
    file is ~|keyspace|/n_files; a hash-partitioned write would give every
    file the full span."""
    import glob

    import pyarrow.parquet as pq

    from google_analytics_dataframes_spark.io import write_clustered

    ev = load_table(spark, SF_DIR, "events")
    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).first()
    out = str(tmp_path_factory.mktemp("clustered"))
    write_clustered(ev.repartition(8), out, cluster_by=["user_id"], num_files=8)

    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert len(files) > 1  # range partitioner actually split the keyspace
    spans, ranges = [], []
    for f in files:
        md = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "user_id":
                    st = col.statistics
                    fmin = st.min if fmin is None else min(fmin, st.min)
                    fmax = st.max if fmax is None else max(fmax, st.max)
        assert fmin is not None
        spans.append(fmax - fmin)
        ranges.append((fmin, fmax))
    keyspace = hi - lo
    # each file covers a narrow slice, and slices don't nest: a point
    # predicate user_id = K overlaps at most 2 files' stat ranges
    assert sum(spans) <= keyspace * 1.25
    for k in (lo, (lo + hi) // 2, hi):
        overlapping = [r for r in ranges if r[0] <= k <= r[1]]
        assert len(overlapping) <= 2
    # round-trip sanity: clustering must not lose or duplicate rows
    assert spark.read.parquet(out).count() == ev.count()


def test_rolling_hll_tracks_exact_within_rsd(spark):
    """w11's tolerance audit: its exact column reproduces w10's answer on
    every day and the HLL-estimate flag holds."""
    reg = registry()
    exact = reg["w10_rolling_distinct"].fn(spark, SF_DIR).toPandas().set_index("day")
    est = reg["w11_rolling_hll"].fn(spark, SF_DIR).toPandas().set_index("day")
    j = exact.join(est, lsuffix="_w10")
    assert len(j) == len(exact)
    assert (j["active_7d"] == j["active_7d_w10"]).all()
    assert j["within_rsd"].all()


def test_session_metrics_consistency(spark):
    """rb18/rb19 view the same session frame: total sessions agree, bounce
    rate is a true ratio in [0,1], and rb19's landing/exit stay inside the
    event-type domain."""
    reg = registry()
    m = reg["rb18_session_metrics"].fn(spark, SF_DIR).toPandas()
    le = reg["rb19_landing_exit"].fn(spark, SF_DIR).toPandas()
    assert m["sessions"].sum() == le["sessions"].sum()
    assert ((m["bounce_rate"] >= 0) & (m["bounce_rate"] <= 1)).all()
    assert (m["bounces"] <= m["sessions"]).all()
    assert (m["events_per_session"] >= 1).all()
    types = {"click", "signup", "error", "view", "purchase"}
    assert set(le["landing"]) <= types and set(le["exit_type"]) <= types
    # every single-event session has landing == exit, so purchase-landing
    # bounces imply at least as many purchase exits from purchase landings
    assert (le["purchase_exits"] <= le["sessions"]).all()


def test_ppl_buckets_are_terciles(spark):
    """l48: within each language the three bucket sizes differ by at most 1
    (ntile contract), cover every scored doc, and bucket score ranges are
    ordered head >= middle >= tail."""
    reg = registry()
    pdf = reg["l48_ppl_buckets"].fn(spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents")
    per_lang = pdf.groupby("lang")["n_docs"].agg(["min", "max", "sum"])
    assert (per_lang["max"] - per_lang["min"] <= 1).all()
    assert per_lang["sum"].sum() == docs.count()
    # terciles are contiguous in score order: head holds the highest
    # scores, so each bucket's MIN dominates the next bucket's MAX (>=
    # not > — ntile may split ties across the boundary)
    lo = pdf.pivot(index="lang", columns="ppl_bucket", values="min_logprob")
    hi = pdf.pivot(index="lang", columns="ppl_bucket", values="max_logprob")
    assert (lo["head"] >= hi["middle"]).all()
    assert (lo["middle"] >= hi["tail"]).all()


def test_importance_resample_deterministic_subset(spark):
    """l49 is a deterministic filter over l46: kept rows are a subset, two
    runs agree exactly, and p_keep respects the clamp bounds."""
    reg = registry()
    a = reg["l49_importance_resample"].fn(spark, SF_DIR).toPandas()
    b = reg["l49_importance_resample"].fn(spark, SF_DIR).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    assert ((a["p_keep"] >= 0.05) & (a["p_keep"] <= 0.95)).all()
    w = reg["l46_dsir_weights"].fn(spark, SF_DIR).toPandas()
    assert set(a["doc_id"]) <= set(w["doc_id"])
    assert 0 < len(a) < len(w)


def test_bloom_dedup_sound_no_false_negatives(spark):
    """l50: a Bloom filter NEVER misses a true member — every exactly-seen doc
    must be flagged maybe-seen — and false_positive is exactly
    maybe & !exact (the calibration column is self-consistent)."""
    reg = registry()
    pdf = reg["l50_bloom_dedup"].fn(spark, SF_DIR).toPandas()
    assert ((pdf["exact_seen"] == 0) | (pdf["bloom_maybe_seen"] == 1)).all()
    expect_fp = ((pdf["bloom_maybe_seen"] == 1) & (pdf["exact_seen"] == 0)).astype(int)
    assert (pdf["false_positive"] == expect_fp).all()


def test_seqlen_histogram_buckets(spark):
    """l54: buckets are powers of two, cumulative fraction is monotone and
    ends at exactly 1, and doc counts cover the corpus."""
    reg = registry()
    pdf = (
        reg["l54_seqlen_histogram"].fn(spark, SF_DIR).toPandas()
        .sort_values("bucket_lo")
    )
    b = pdf["bucket_lo"].astype(int)
    assert ((b & (b - 1)) == 0).all() and (b > 0).all()
    assert pdf["cum_doc_frac"].is_monotonic_increasing
    assert abs(pdf["cum_doc_frac"].iloc[-1] - 1.0) < 1e-9
    docs = load_table(spark, SF_DIR, "documents")
    assert pdf["n_docs"].sum() == docs.count()


def test_temperature_mixture_flattens(spark):
    """l52: both share columns are distributions (sum to 1 within rounding),
    and temperature alpha=0.5 flattens the mix — the smallest source gets
    the largest upsample factor, the largest source the smallest."""
    reg = registry()
    pdf = reg["l52_temperature_mixture"].fn(spark, SF_DIR).toPandas()
    assert abs(pdf["nat_share"].sum() - 1.0) < 1e-4
    assert abs(pdf["temp_share"].sum() - 1.0) < 1e-4
    by_size = pdf.sort_values("n_tokens")
    assert by_size["upsample_factor"].iloc[0] == pdf["upsample_factor"].max()
    assert by_size["upsample_factor"].iloc[-1] == pdf["upsample_factor"].min()


def test_pair_token_f1_bounds(spark):
    """l55: F1 and precision/recall live in (0, 1]; F1 is the harmonic mean
    of the two (recomputed within rounding); pairs come from l12's
    candidate set."""
    reg = registry()
    pdf = reg["l55_pair_token_f1"].fn(spark, SF_DIR).toPandas()
    assert len(pdf) > 0
    for c in ("precision_b", "recall_a", "token_f1"):
        assert ((pdf[c] > 0) & (pdf[c] <= 1)).all()
    p, r = pdf["precision_b"], pdf["recall_a"]
    assert ((pdf["token_f1"] - 2 * p * r / (p + r)).abs() < 1e-4).all()
    l12 = reg["l12_ngram_jaccard"].fn(spark, SF_DIR).toPandas()
    assert set(zip(pdf["doc_a"], pdf["doc_b"])) == set(
        zip(l12["doc_a"], l12["doc_b"])
    )


def test_incremental_neardup_equals_full_restriction(spark):
    """l60 must equal the full-corpus pair computation restricted to
    cross-side pairs: incremental dedup misses nothing and invents
    nothing relative to batch dedup over everything."""
    from pyspark.sql import functions as F

    reg = registry()
    inc = reg["l60_incremental_neardup"].fn(spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents")
    grams = docs.select(
        "doc_id",
        F.length("source").alias("slen"),
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(text) - 2, 1)), "
                    "p -> substring(text, p, 3))"
                )
            )
        ).alias("gram"),
    )
    sz = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = grams.select(F.col("doc_id").alias("da"), F.col("slen").alias("la"), "gram")
    b = grams.select(F.col("doc_id").alias("db"), F.col("slen").alias("lb"), "gram")
    full = (
        a.join(b, "gram")
        .filter((F.col("la") == 5) & (F.col("lb") == 4))  # incoming x existing
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
        .join(sz.withColumnRenamed("doc_id", "da").withColumnRenamed("sz", "sa"), "da")
        .join(sz.withColumnRenamed("doc_id", "db").withColumnRenamed("sz", "sb"), "db")
        .filter(100 * F.col("inter") >= 60 * (F.col("sa") + F.col("sb") - F.col("inter")))
        .toPandas()
    )
    assert set(zip(inc["doc_in"], inc["doc_ex"])) == set(zip(full["da"], full["db"]))


def test_oracles_avoid_hash_fragile_constructs():
    """Registry-level lint (VERDICT r4 item #4): the r04 driver sweep
    hash-failed exactly the queries whose oracles used constructs no
    passing oracle used — struct-literal MIN/MAX, LATERAL generate_series,
    SQL ntile(), and raw (engine-kernel-ordered) list_dot_product/
    list_cosine_similarity outputs.  This lint keeps those constructs out
    of future oracles unless the query is explicitly registered as a
    determinism PROBE (the dg family exists precisely to carry them, in
    isolation, so CORRECTNESS rounds attribute any engine skew to a named
    construct)."""
    import re

    # dg probes deliberately carry one fragile construct each; the other
    # entries are driver-hash-PROVEN uses (round noted) whose shape differs
    # from the failing ones: w7 pairs SQL ntile with Spark F.ntile (same
    # function both sides, r02); l3/l14/l38/l39/l47/l58 feed
    # list_dot_product into terminally-rounded outputs with no
    # cancellation-amplified compare (r03/r04); l51/l56's LATERAL
    # generate_series always has non-negative bounds (r04); l4 (round-5
    # oracle upgrade) reuses l14's exact shape — list_dot_product into a
    # terminally-round(4) cos plus a (cos DESC, id) ranking whose only
    # exact ties come from planted identical vectors — pending its first
    # driver CORRECTNESS row this round.  New oracles must not otherwise
    # add to this list without a passing CORRECTNESS row.
    ALLOWED = {
        "dg1_struct_min", "dg2_lateral_series", "dg3_dot_raw", "dg4_ntile",
        "w7_ntile",
        "l3_topk_cosine", "l14_ann_ivf", "l38_centroid_distances",
        "l39_batch_knn", "l47_nearest_centroid", "l58_pq_codes",
        "l51_bpe_pair_counts", "l56_bigram_logprob",
        "l4_knn_join",
        # l62 (round-5): same l3/l14 shape — sequential-fold cosines into
        # MAX + terminal round(4); threshold flag compares identical
        # doubles on both engines
        "l62_semantic_decontam",
        # l62b (round-6): l62's exact contract plus a sign-LSH prefilter;
        # planted power-of-2 probes pin cos exactly 1.0 (l13 reasoning)
        "l62b_semantic_decontam_ivf",
        # l79 (round-8): l47's exact shape iterated — list_dot_product
        # feeds only the (cos DESC, cluster) ranking, reproduced on the
        # Spark side by the same sequential fold; centroids are decimal-
        # exact between iterations.  Exact-equality differential check
        # passed at registration; pending its first driver row (l4's
        # precedent).
        "l79_kmeans_lloyd",
        # l81 (round-9): l14's oracle VERBATIM (stored-index serving path
        # must return the per-run-build answer); l14 is driver-hash-proven
        # since r03, so the construct shape carries that proof.
        "l81_ann_ivf_stored",
    }
    FRAGILE = {
        "struct-literal MIN/MAX aggregate": re.compile(r"(MIN|MAX)\s*\(\s*\{", re.I),
        "LATERAL generate_series": re.compile(r"LATERAL.*generate_series", re.I | re.S),
        "SQL ntile()": re.compile(r"\bntile\s*\(", re.I),
        "raw list_dot_product/list_cosine": re.compile(
            r"list_(dot_product|cosine_similarity)", re.I
        ),
    }
    bad = []
    for name, q in registry().items():
        if q.oracle is None or name in ALLOWED:
            continue
        for label, pat in FRAGILE.items():
            if pat.search(q.oracle_for(SF_DIR)):
                bad.append(f"{name}: {label}")
    assert not bad, (
        "hash-fragile construct(s) in non-probe oracles (restate in a "
        "driver-proven form or register as a dg probe): " + "; ".join(bad)
    )


def test_oracles_never_emit_hugeint_columns():
    """Registry-level lint (VERDICT r5 item #2, the dg7 finding codified):
    DuckDB widens integer SUM (and integer products/deltas built on it) to
    HUGEINT/int128, and the driver's value-hash does NOT normalize that
    against Spark's BIGINT — dg7_hugeint_sum carried the standing witness
    as a by-design driver FAIL for rounds 5-7, now retired to
    test_hugeint_witness_uncast_dg7 below (VERDICT r7 item #1).  Until
    round 5 the rule "cast every integer aggregate in the final SELECT"
    lived only in convention; this lint makes it mechanical by
    DESCRIBE-ing every oracle in DuckDB (plan-only, nothing executes) and
    rejecting any output column typed HUGEINT.  No query is exempt any
    more — dg7's registered oracle casts like everything else."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    def hugeint_cols(sql):
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        return [name for name, typ, *_ in desc if "HUGEINT" in typ.upper()]

    # the lint must actually bite: a seeded bare integer SUM is rejected
    assert hugeint_cols("SELECT SUM(o_custkey) AS s FROM orders") == ["s"]
    # and the driver-proven cast form passes
    assert hugeint_cols(
        "SELECT CAST(SUM(o_custkey) AS BIGINT) AS s FROM orders"
    ) == []

    bad = []
    for name, q in registry().items():
        if q.oracle is None:
            continue
        cols = hugeint_cols(q.oracle_for(SF_DIR))
        if cols:
            bad.append(f"{name}: {cols}")
    assert not bad, (
        "oracle(s) emit HUGEINT column(s) — the driver hash-fails these "
        "(dg7); wrap in CAST(... AS BIGINT): " + "; ".join(bad)
    )


def test_hugeint_witness_uncast_dg7():
    """The HUGEINT normalization witness, moved out of the driver report
    (VERDICT r7 item #1): for three rounds dg7 was deliberately registered
    UN-cast so the driver's value-hash would fail on DuckDB's int128 bytes
    vs Spark's int64 — evidence the driver does not normalize integer
    widths.  A permanently-red row trains readers to skim past red, so the
    registered dg7 twins now both CAST (driver green) and THIS test
    carries the evidence instead: it EXECUTES the preserved un-cast oracle
    and asserts DuckDB really materializes int128 (dtype object /
    DESCRIBE HUGEINT), while the registered cast form comes back BIGINT
    int64 — i.e. the un-cast form would still hash-fail, so the lint above
    is still load-bearing."""
    import duckdb

    from google_analytics_dataframes_spark.queries.diagnostics import (
        DG7_UNCAST_ORACLE,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE OR REPLACE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    desc = {
        name: typ
        for name, typ, *_ in con.execute(
            f"DESCRIBE {DG7_UNCAST_ORACLE}"
        ).fetchall()
    }
    assert desc["n_big"] == "HUGEINT" and desc["digit_sum"] == "HUGEINT"
    # and it actually EXECUTES as int128: pandas has no int128 column, so
    # duckdb 1.0.0 widens HUGEINT to float64 on .df() — exactly the
    # representation whose bytes the driver's value-hash compared against
    # Spark's int64 for three red rounds
    pdf = con.execute(DG7_UNCAST_ORACLE).df()
    assert str(pdf["n_big"].dtype) == "float64"
    assert str(pdf["digit_sum"].dtype) == "float64"
    # the registered (cast) twin is int64 — the driver-green form
    cast_pdf = con.execute(registry()["dg7_hugeint_sum"].oracle).df()
    assert str(cast_pdf["n_big"].dtype) == "int64"
    assert str(cast_pdf["digit_sum"].dtype) == "int64"


def test_driver_contract_follows_registry(spark):
    """``__spark_entry__`` is the surface an outside driver imports:
    ``queries()`` walks the registry in canonical registration order,
    ``oracle_sql()`` holds a SQL string for exactly the queries that declare
    an oracle, and ``entry(spark)`` returns rows at sf0.001."""
    import __spark_entry__ as E

    reg = registry()
    assert list(E.queries()) == list(reg)
    oracles = E.oracle_sql()
    assert set(oracles) == {n for n, q in reg.items() if q.oracle is not None}
    assert all(isinstance(sql, str) for sql in oracles.values())
    assert E.entry(spark).count() > 0


def test_readme_query_count_matches_registry():
    """VERDICT r7 item #6: README's stated query count drifted from the
    registry two rounds running (202 vs 204 at the r7 snapshot) because it
    was hand-maintained.  This makes it mechanical: every "N registered
    queries" claim in README.md must equal the live registry size, so a
    new @register without a README bump fails the suite instead of eroding
    the audit trail."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parent.parent / "README.md").read_text()
    claims = [int(m) for m in re.findall(r"(\d+) registered queries", text)]
    assert len(claims) >= 2, "README no longer states the query count"
    assert set(claims) == {len(registry())}, (
        f"README claims {claims} registered queries; registry has "
        f"{len(registry())}"
    )


def test_baseline_snapshot_count_matches_registry():
    """VERDICT r8 item #6 (extending the README count test's mechanism):
    BASELINE.md's end-of-round snapshot said "282-query registry" while
    the same-commit driver bench recorded 283 — prose written one commit
    early.  The headline is now test-enforced: the LATEST (= last in the
    file) "COMPLETE N-query registry" claim must equal the live registry
    size, so the snapshot paragraph has to be (re)written at the true
    end-of-round count or the suite fails."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parent.parent / "BASELINE.md").read_text()
    claims = re.findall(r"COMPLETE (\d+)-query registry", text)
    assert claims, "BASELINE.md lost its end-of-round snapshot headline"
    assert int(claims[-1]) == len(registry()), (
        f"BASELINE.md's latest snapshot claims a {claims[-1]}-query "
        f"registry; the registry has {len(registry())} — rewrite the "
        "end-of-round snapshot at the real count"
    )


def test_multimodal_gif_roundtrip_known_answer():
    """Round-8: GIF87a decodes for real — hand-rolled variable-width LZW
    (9->12 bits, clear-code resets, KwKwK, LSB-first packing, sub-block
    framing).  Checks: (a) indexed round trip is bitwise on small,
    dictionary-overflowing (random 120x90 forces a 4096-entry reset), and
    run-heavy content; (b) the byte stream is spec GIF87a (signature,
    little-endian screen descriptor, trailer); (c) GIF89a extension
    blocks are skipped per spec; (d) interlace flags and truncation raise
    the documented errors."""
    import struct

    import numpy as np
    import pytest

    i = np.arange(256, dtype=np.int64)
    pal = np.stack([(i * 7) % 256, (i * 13) % 256, (i * 29) % 256], axis=1).astype(
        np.uint8
    )
    y, x = np.indices((9, 11))
    idx = ((3 * 31 + y * 7 + x * 3) % 256).astype(np.uint8)
    gif = M.encode_gif(idx, pal)
    assert gif[:6] == b"GIF87a" and gif[-1:] == b"\x3b"
    assert struct.unpack_from("<HH", gif, 6) == (11, 9)
    dec = M.decode_gif(gif)
    assert np.array_equal(dec["indexed"], idx)
    assert np.array_equal(dec["pixels"], pal[idx])

    rs = np.random.RandomState(5)
    big = rs.randint(0, 256, (120, 90)).astype(np.uint8)
    assert np.array_equal(M.decode_gif(M.encode_gif(big, pal))["indexed"], big)
    runs = np.repeat(np.arange(100) % 256, 97)[: 97 * 100].astype(np.uint8)
    runs = runs.reshape(100, 97)
    assert np.array_equal(M.decode_gif(M.encode_gif(runs, pal))["indexed"], runs)

    # GIF89a graphics-control extension before the image block: skipped.
    # The image descriptor starts at the STRUCTURAL offset 13 + 768 (header
    # + screen descriptor + 256-entry global color table) — searching for
    # the 0x2C byte would match palette bytes.
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    img_at = 13 + 256 * 3
    assert gif[img_at] == 0x2C
    with89 = b"GIF89a" + gif[6:img_at] + ext + gif[img_at:]
    assert np.array_equal(M.decode_gif(with89)["indexed"], idx)

    # round 10: 4-pass interlace ROUND-TRIPS for real (was a declared
    # seam) — encoder stores the pass-scheduled rows and sets the flag,
    # decoder scatters them back; exact at heights exercising every pass
    # boundary (1 row = pass-1 only, up to all four passes), and a
    # flag-patched non-interlaced stream decodes to the row PERMUTATION
    # (the storage-order rows land at display offsets), proving the flag
    # actually drives the scatter
    for hh, ww in ((1, 5), (2, 7), (3, 3), (5, 4), (9, 11), (17, 13)):
        im = rs.randint(0, 256, (hh, ww)).astype(np.uint8)
        gi = M.encode_gif(im, pal, interlace=True)
        at = 13 + 256 * 3
        assert gi[at + 9] & 0x40, (hh, ww)
        assert np.array_equal(M.decode_gif(gi)["indexed"], im), (hh, ww)
    interlaced = bytearray(gif)
    interlaced[img_at + 9] |= 0x40  # flag a non-interlaced stream
    perm = M.decode_gif(bytes(interlaced))["indexed"]
    order = M._gif_interlace_order(9)
    assert np.array_equal(perm[order], idx)
    with pytest.raises(ValueError):
        M.decode_gif(gif[: len(gif) // 2])

    # round 10: LOCAL color tables decode (was a declared seam) — an LCT
    # overrides the GCT, an LCT-only GIF (no global table) is legal, a
    # table-less GIF and a truncated LCT raise the documented ValueErrors
    lpal = rs.randint(0, 256, (256, 3)).astype(np.uint8)
    desc = bytearray(gif[img_at : img_at + 10])
    desc[9] |= 0x87  # LCT present, 256 entries
    with_lct = gif[:img_at] + bytes(desc) + lpal.tobytes() + gif[img_at + 10 :]
    dl = M.decode_gif(with_lct)
    assert np.array_equal(dl["palette"], lpal)
    assert np.array_equal(dl["pixels"], lpal[idx])
    scr = bytearray(gif[6:13])
    scr[4] &= 0x7F  # clear the GCT flag
    lct_only = (
        gif[:6] + bytes(scr) + bytes(desc) + lpal.tobytes() + gif[img_at + 10 :]
    )
    assert np.array_equal(M.decode_gif(lct_only)["pixels"], lpal[idx])
    with pytest.raises(ValueError, match="no color table"):
        M.decode_gif(gif[:6] + bytes(scr) + gif[img_at:])

    # round-11 fuzz findings: headers shorter than the 13-byte logical
    # screen descriptor, a descriptor truncated mid-field, a wild LZW
    # minimum code size (memory-DoS via 1<<min_code table allocation),
    # and a first-code-after-clear beyond the table must all raise
    # ValueError, never struct.error / IndexError / a giant alloc
    for dec in (M.decode_gif, M.decode_gif_frames):
        with pytest.raises(ValueError, match="screen descriptor"):
            dec(b"GIF89a\x01\x00")
    with pytest.raises(ValueError, match="image descriptor"):
        M.decode_gif(gif[: img_at + 4])
    wild = bytearray(gif)
    wild[img_at + 10] = 200  # LZW minimum code size byte
    with pytest.raises(ValueError, match="minimum code size"):
        M.decode_gif(bytes(wild))
    with pytest.raises(ValueError, match="corrupt LZW"):
        # min_code 8 => first code is 9 bits; craft sub-block whose
        # first code is 300 (> CLEAR+1 = 257 with an empty table)
        payload = bytes([8, 2, 0b00101100, 0b00000001, 0])  # code 300
        M.decode_gif(gif[: img_at + 10] + payload + b"\x3b")
    with pytest.raises(ValueError, match="truncated local"):
        M.decode_gif(gif[:img_at] + bytes(desc) + lpal.tobytes()[:100])

    # REAL animations interleave a graphics-control extension between
    # frames — the multi-frame guard must catch that shape, not just
    # back-to-back image blocks (round-8 code-review finding), and point
    # at decode_gif_frames, which decodes them for real (round 10)
    frame = gif[img_at:-1]  # image descriptor + data, no trailer
    animated = gif[:-1] + ext + frame + b"\x3b"
    with pytest.raises(NotImplementedError, match="multi-frame"):
        M.decode_gif(animated)

    # round 10: ANIMATION decoding with the 89a disposal model — frames
    # as full-canvas snapshots; sub-rect frames, transparency (index
    # leaves the underlying canvas), disposal 2 (restore rect to
    # background) and 3 (restore to previous) all verified against a
    # numpy reference composite
    def _fb(im, left=0, top=0):
        g = M.encode_gif(im, pal)
        blk = bytearray(g[13 + 256 * 3 : -1])
        struct.pack_into("<HH", blk, 1, left, top)
        return bytes(blk)

    def _gce(delay, disposal, tindex=None):
        packed = (disposal << 2) | (1 if tindex is not None else 0)
        return (
            b"\x21\xf9\x04" + bytes((packed,)) + struct.pack("<H", delay)
            + bytes((tindex or 0,)) + b"\x00"
        )

    base = rs.randint(0, 256, (12, 20)).astype(np.uint8)
    sub = rs.randint(0, 256, (4, 6)).astype(np.uint8)
    sub[1, 2] = 7  # transparent under tindex=7
    hdr = M.encode_gif(base, pal)[: 13 + 256 * 3]
    anim2 = (
        hdr
        + _gce(10, 1) + _fb(base)
        + _gce(20, 1, 7) + _fb(sub, 5, 3)
        + _gce(30, 2) + _fb(sub, 10, 6)
        + _gce(40, 0) + _fb(base)
        + b"\x3b"
    )
    da = M.decode_gif_frames(anim2)
    assert (da["width"], da["height"], da["n_frames"]) == (20, 12, 4)
    assert [f["delay_cs"] for f in da["frames"]] == [10, 20, 30, 40]
    ref = pal[base].copy()
    assert np.array_equal(da["frames"][0]["canvas"], ref)
    m = sub != 7
    ref2 = ref.copy()
    ref2[3:7, 5:11][m] = pal[sub][m]
    assert np.array_equal(da["frames"][1]["canvas"], ref2)
    ref3 = ref2.copy()
    ref3[6:10, 10:16] = pal[sub]
    assert np.array_equal(da["frames"][2]["canvas"], ref3)
    ref4 = ref3.copy()
    ref4[6:10, 10:16] = pal[0]  # disposal-2 restored to background...
    ref4[:] = pal[base]  # ...then fully overdrawn by frame 4
    assert np.array_equal(da["frames"][3]["canvas"], ref4)
    # truncation INSIDE an extension block raises the documented error
    with pytest.raises(ValueError, match="truncated"):
        M.decode_gif(gif[:img_at] + b"\x21\xf9\x04\x00")

    # tail-code width-bump synchronization (round-8 code-review finding):
    # the decoder appends a dictionary entry for the FINAL data code and
    # may bump the code width before reading EOI; the encoder must emit
    # EOI at that bumped width.  Fuzz across sizes spanning the 512/1024
    # bump boundaries plus structured pair-dense content.
    rs2 = np.random.RandomState(99)
    for n in list(range(245, 270)) + list(range(755, 780)) + [5000]:
        arr = rs2.randint(0, 256, (1, n)).astype(np.uint8)
        assert np.array_equal(
            M.decode_gif(M.encode_gif(arr, pal))["indexed"], arr
        ), n


def test_decimal_render_witness_above_2_53(spark):
    """Round-9 finding (dg7's sibling): above 2^53 unscaled, DuckDB's
    direct DECIMAL->DOUBLE cast double-rounds (witness renders 1 ulp
    low) while the STRING route — which dsum_sql/davg_sql now use — is
    correctly rounded and agrees with Spark's direct cast and python's
    float(str).  Pins all three engines' renders on the witness so a
    dependency upgrade that shifts any of them fails loudly here, not
    as a value-hash mystery at the next large-scale differential."""
    import duckdb

    w = "50777888124.420500"
    correct = float(w)  # python strtod: correctly rounded
    duck_direct = duckdb.sql(
        f"SELECT CAST(CAST('{w}' AS DECIMAL(30,6)) AS DOUBLE)"
    ).fetchone()[0]
    duck_string = duckdb.sql(
        f"SELECT CAST(CAST(CAST('{w}' AS DECIMAL(30,6)) AS STRING) AS DOUBLE)"
    ).fetchone()[0]
    spark_direct = spark.sql(
        f"SELECT CAST(CAST('{w}' AS DECIMAL(30,6)) AS DOUBLE)"
    ).first()[0]
    assert duck_string == correct, "DuckDB STRING route stopped being exact"
    assert spark_direct == correct, "Spark decimal->double stopped being exact"
    # Documents (not demands) the defect the STRING route works around.
    # A warning, not an assert (ADVICE r9): a DuckDB upgrade that FIXES
    # its direct cast is an improvement, and must not turn the suite red
    # — it just means dsum_sql's STRING hop became retireable.
    if duck_direct == correct:
        import warnings

        warnings.warn(
            "DuckDB's direct DECIMAL->DOUBLE cast now renders the witness "
            "correctly — dsum_sql/davg_sql's STRING route is no longer "
            "needed; simplify it (determinism.py)",
            stacklevel=1,
        )


def test_codec_decompress_bombs_and_degenerate_strh_r12():
    """Round-12 review hardenings: (a) decode_png inflates IDAT BOUNDED
    by the IHDR-derived payload size and enforces a 1 GiB header
    ceiling, so a tiny crafted IDAT can neither balloon memory nor
    reach numpy with an oversized buffer; (b) decode_tiff's Deflate
    strips are likewise bounded by the strip's declared size and reject
    trailing garbage; (c) decode_avi clears the stream classification
    on a degenerate (<4-byte) strh so a following strf is never
    misrouted through a stale 'vids' type."""
    import struct
    import zlib

    import numpy as np
    import pytest

    def chunk(t: bytes, d: bytes) -> bytes:
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # (a1) header ceiling: 40000x40000 RGBA-16 declares ~12.8 GB of
    # scanlines — refused from the IHDR alone, before any inflate
    huge_hdr = struct.pack(">IIBBBBB", 40000, 40000, 16, 6, 0, 0, 0)
    with pytest.raises(ValueError, match="decode ceiling"):
        M.decode_png(sig + chunk(b"IHDR", huge_hdr) + chunk(b"IEND", b""))
    # (a2) deflate bomb: a 4x4 gray-8 header (expect = 20 bytes) with an
    # IDAT that inflates to 8 MB — must fail as the documented
    # ValueError with only expect+1 bytes ever materialized
    small_hdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (8 << 20))
    assert len(bomb) < 20_000  # it IS a bomb, not a big upload
    with pytest.raises(ValueError, match="payload size mismatch"):
        M.decode_png(
            sig + chunk(b"IHDR", small_hdr) + chunk(b"IDAT", bomb)
            + chunk(b"IEND", b"")
        )
    # (a3) trailing garbage after a correctly-sized zlib stream is a
    # structural lie, not ignorable padding
    good_raw = b"".join(b"\x00" + bytes(4) for _ in range(4))  # 20 bytes
    tail = zlib.compress(good_raw) + b"JUNK"
    with pytest.raises(ValueError, match="payload size mismatch|bad IDAT"):
        M.decode_png(
            sig + chunk(b"IHDR", small_hdr) + chunk(b"IDAT", tail)
            + chunk(b"IEND", b"")
        )
    # happy path still exact after the bounded rewrite
    ok = sig + chunk(b"IHDR", small_hdr) + chunk(
        b"IDAT", zlib.compress(good_raw)
    ) + chunk(b"IEND", b"")
    assert np.array_equal(M.decode_png(ok), np.zeros((4, 4, 1), np.uint8))

    # (b) TIFF deflate strip bomb: append an 8 MB-inflating strip to a
    # valid single-strip deflate TIFF and point StripOffsets /
    # StripByteCounts at it — bounded decode refuses it structurally
    timg = (np.arange(48, dtype=np.uint32).reshape(4, 4, 3) * 5 % 256).astype(
        np.uint8
    )
    base = M.encode_tiff(timg, compression="deflate")
    tiff_bomb = zlib.compress(b"\x00" * (8 << 20))
    blob = bytearray(base + tiff_bomb)
    oi = base.find(struct.pack("<HH", 273, 4))  # StripOffsets (LONG)
    ci = base.find(struct.pack("<HH", 279, 4))  # StripByteCounts (LONG)
    assert oi > 0 and ci > 0
    struct.pack_into("<I", blob, oi + 8, len(base))
    struct.pack_into("<I", blob, ci + 8, len(tiff_bomb))
    with pytest.raises(ValueError, match="deflate strip"):
        M.decode_tiff(bytes(blob))
    # trailing garbage after the strip's zlib stream also refused
    expect_strip = 4 * 4 * 3
    tail_strip = zlib.compress(bytes(range(expect_strip))) + b"XY"
    blob2 = bytearray(base + tail_strip)
    struct.pack_into("<I", blob2, oi + 8, len(base))
    struct.pack_into("<I", blob2, ci + 8, len(tail_strip))
    with pytest.raises(ValueError, match="deflate strip"):
        M.decode_tiff(bytes(blob2))

    # (c) degenerate strh: stream 1 declares vids but carries no strf;
    # stream 2 opens with a 2-byte strh (fccType unreadable) and an
    # AUDIO-ish 16-bit strf.  With a stale 'vids' classification that
    # strf used to be parsed as the video format (16-bit DIB ->
    # NotImplementedError); clearing the type on the short strh lets
    # the DIB frames decode.
    h_, w_ = 3, 5
    stride = ((3 * w_ + 3) // 4) * 4
    fr = np.arange(h_ * w_ * 3, dtype=np.uint32).reshape(h_, w_, 3) % 256
    fr = fr.astype(np.uint8)
    bgr_bottom_up = fr[::-1, :, ::-1]
    rows = np.zeros((h_, stride), np.uint8)
    rows[:, : 3 * w_] = bgr_bottom_up.reshape(h_, 3 * w_)
    frame = rows.tobytes()

    def rchunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) % 2 else b""
        )

    def rlist(kind: bytes, body: bytes) -> bytes:
        return rchunk(b"LIST", kind + body)

    avih = struct.pack("<IIIIIIIIII", 100_000, 0, 0, 0, 1, 0, 2, 0, w_, h_)
    strh_vids = b"vids" + b"DIB " + bytes(48 - 8)
    strl_video = rlist(b"strl", rchunk(b"strh", strh_vids))
    strf_audio = struct.pack("<IiiHHI", 0, 0, 0, 1, 16, 0) + bytes(20)
    strl_degen = rlist(
        b"strl", rchunk(b"strh", b"\x01\x02") + rchunk(b"strf", strf_audio)
    )
    hdrl = rlist(b"hdrl", rchunk(b"avih", avih) + strl_video + strl_degen)
    movi = rlist(b"movi", rchunk(b"00db", frame))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    out = M.decode_avi(avi)
    assert (out["width"], out["height"], out["n_frames"]) == (w_, h_, 1)
    assert np.array_equal(out["frames"][0], fr)


def test_l44_clean_corpus_nonvacuous_at_driver_gate_scale(spark):
    """VERDICT r13 item #4: l44_clean_corpus (and its 10x slice twin
    l44b) compose near-dup clustering, quality filtering, and
    decontamination into one drop-list — and the conjunction is known to
    EMPTY the src5 slice at sf0.1 and the 10x synth (documented in
    BASELINE.md; the drop-list machinery stays non-vacuously covered
    there by l29b/l33b).  The driver's correctness gate runs at sf0.01,
    where both queries DO emit rows (5 at r13) — but nothing asserted
    that, so a testdata/synth regeneration could silently zero the
    capstone's driver evidence while every hash still "matched" on empty
    frames.  Pin the non-vacuousness at the gate scale."""
    reg = registry()
    gate_dir = "/root/testdata/sf0.01"
    n_l44 = reg["l44_clean_corpus"].fn(spark, gate_dir).count()
    n_l44b = reg["l44b_clean_corpus_slice"].fn(spark, gate_dir).count()
    assert n_l44 > 0, "l44 emits 0 rows at sf0.01 — driver evidence vacuous"
    assert n_l44b > 0, "l44b emits 0 rows at sf0.01 — driver evidence vacuous"
