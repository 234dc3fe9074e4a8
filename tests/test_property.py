"""Property-based tests (hypothesis): the vocab-adaptive bitmask Jaccard
strategy must be EXACTLY result-equivalent to the inverted-index strategy on
arbitrary corpora — including vocabularies crossing the 64-bit mask-word
boundary — and the GA filter DSL must agree with hand-built predicates."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# vocab > 64 forces multi-word masks; tokens as short strings
_VOCAB = [f"t{i:02d}" for i in range(70)]

_corpus = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=12, unique=True),
    min_size=2,
    max_size=12,
)


@given(corpus=_corpus, pct=st.sampled_from([10, 40, 60, 100]))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_all_jaccard_strategies_agree(spark, corpus, pct):
    """bitmask, full inverted-index, and prefix-filtered strategies are
    result-identical on arbitrary corpora and thresholds."""
    from google_analytics_dataframes_spark.operators.dedup import (
        _jaccard_pairs_bitmask,
        _jaccard_pairs_index,
        _jaccard_pairs_prefix,
    )

    rows = [(i, item) for i, items in enumerate(corpus) for item in items]
    items = spark.createDataFrame(rows, "doc_id long, item string")
    vocab = sorted({it for _, it in rows})
    results = {
        "bitmask": _jaccard_pairs_bitmask(items, pct, vocab),
        "index": _jaccard_pairs_index(items, pct),
        "prefix": _jaccard_pairs_prefix(items, pct),
    }
    seen = {
        name: {
            (r["doc_a"], r["doc_b"], r["inter"], r["uni"])
            for r in df.collect()
        }
        for name, df in results.items()
    }
    assert seen["bitmask"] == seen["index"] == seen["prefix"]


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)
    ).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=25,
)


@given(edges=_edges)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_equals_union_find(spark, edges):
    """The iterative min-label propagation must produce exactly the
    components a sequential union-find does on arbitrary graphs — chains,
    stars, cycles, self-dups — with cluster_id = min member id."""
    from google_analytics_dataframes_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[int, list[int]] = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    want = {n: min(members) for members in groups.values() for n in members}

    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert got == want


@given(
    lo=st.integers(min_value=0, max_value=200),
    hi=st.integers(min_value=201, max_value=600),
    et=st.sampled_from(["view", "click", "purchase"]),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_filter_dsl_equals_handbuilt(spark, lo, hi, et):
    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.report import parse_ga_filters
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    dsl = f"value>{lo}.0,event_type=={et};value<={hi}.0"
    got = ev.filter(parse_ga_filters(ev, dsl)).count()
    want = ev.filter(
        ((F.col("value") > float(lo)) | (F.col("event_type") == et))
        & (F.col("value") <= float(hi))
    ).count()
    assert got == want


_cross_corpus = st.tuples(
    st.lists(  # incoming docs
        st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=10, unique=True),
        min_size=1,
        max_size=6,
    ),
    st.lists(  # existing docs
        st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=10, unique=True),
        min_size=1,
        max_size=6,
    ),
)


@given(corpus=_cross_corpus, pct=st.sampled_from([10, 40, 60, 100]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_all_cross_jaccard_strategies_agree(spark, corpus, pct):
    """The three cross-side strategies (broadcast-bitmask, inverted index,
    prefix-filtered) are result-identical on arbitrary batch-vs-corpus
    splits and thresholds — the property the l60 router relies on when it
    picks per-input."""
    from google_analytics_dataframes_spark.operators.dedup import (
        _cross_bitmask,
        _cross_index,
        _cross_prefix,
    )

    inc_docs, ex_docs = corpus
    inc_rows = [(i, it) for i, items in enumerate(inc_docs) for it in items]
    ex_rows = [
        (100 + i, it) for i, items in enumerate(ex_docs) for it in items
    ]
    inc = spark.createDataFrame(inc_rows, "doc_id long, item string")
    ex = spark.createDataFrame(ex_rows, "doc_id long, item string")
    vocab = sorted({it for _, it in inc_rows + ex_rows})
    results = {
        "bitmask": _cross_bitmask(inc, ex, pct, vocab),
        "index": _cross_index(inc, ex, pct),
        "prefix": _cross_prefix(inc, ex, pct),
    }
    seen = {
        name: {
            (r["doc_in"], r["doc_ex"], r["inter"], r["uni"])
            for r in df.collect()
        }
        for name, df in results.items()
    }
    assert seen["bitmask"] == seen["index"] == seen["prefix"]


_event_stream = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # user_id
        st.integers(min_value=0, max_value=12_000), # t in seconds
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=40,
)


@given(events=_event_stream)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sessionization_equals_sequential_reference(spark, events):
    """The rb18-20 session frame (lag/cumsum 30-min-gap model, struct
    min/max landing-exit) must agree with a sequential per-user pass on
    arbitrary event streams — gap exactly at the 1800 s boundary, ties on
    ts broken by event_id, single-event sessions, multi-user interleaving."""
    from google_analytics_dataframes_spark.queries.report_queries import (
        _sessions,
    )

    rows = [
        (u, eid, et, t * 1_000_000)
        for eid, (u, t, et) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_us long"
    ).select(
        "user_id", "event_id", "event_type",
        F.timestamp_micros("ts_us").alias("ts"),
    )

    # sequential reference
    per_user: dict[int, list] = {}
    for u, eid, et, ts in rows:
        per_user.setdefault(u, []).append((ts, eid, et))
    want = set()
    for u, evs in per_user.items():
        evs.sort()
        sid = 0
        cur: list = []
        prev = None
        for ts, eid, et in evs + [(None, None, None)]:
            if ts is None or prev is None or ts - prev >= 1_800_000_000:
                if cur:
                    start = min(cur)[0]
                    end = max(cur)[0]
                    want.add(
                        (
                            u,
                            sid,
                            start,
                            len(cur),
                            (end - start) // 1_000_000,
                            min(cur)[2],
                            max(cur)[2],
                            sum(1 for c in cur if c[2] == "purchase"),
                        )
                    )
                if ts is None:
                    break
                sid += 1
                cur = []
            cur.append((ts, eid, et))
            prev = ts
    got = {
        (
            r.user_id, r.session_id, r.start_us, r.n_events,
            r.duration_sec, r.landing, r.exit_type, r.purchases,
        )
        for r in _sessions(df).collect()
    }
    assert got == want


_images = st.integers(1, 40).flatmap(
    lambda h: st.integers(1, 40).flatmap(
        lambda w: st.binary(min_size=h * w * 3, max_size=h * w * 3).map(
            lambda b: (h, w, b)
        )
    )
)


@given(img=_images)
@settings(max_examples=40, deadline=None)
def test_lossless_codecs_roundtrip_arbitrary_images(img):
    """PROPERTY: every lossless image codec (BMP, TIFF, PNG, GIF-indexed)
    is the identity on ARBITRARY pixel content and dimensions — not just
    the structured fixtures the known-answer tests use.  Hypothesis
    shrinks any failure to a minimal image, which is how codec bugs are
    actually found (the round-8 GIF tail-width bug lived exactly in this
    input space)."""
    import numpy as np

    from google_analytics_dataframes_spark.operators import multimodal as M

    h, w, raw = img
    rgb = np.frombuffer(raw, np.uint8).reshape(h, w, 3)
    assert np.array_equal(M.decode_bmp(M.encode_bmp(rgb)), rgb)
    # round 11: TIFF is lossless on the same space in every supported
    # compression; arbitrary bytes exercise LZW width growth and
    # PackBits literal/run packet switching
    for ck in ("none", "packbits", "lzw", "deflate"):
        assert np.array_equal(
            M.decode_tiff(M.encode_tiff(rgb, compression=ck)), rgb
        )
    assert np.array_equal(M.decode_png(M.encode_png(rgb)), rgb)
    # round 11: Adam7 interlace and 16-bit depth are lossless on the
    # same arbitrary input space (pass geometry exercises every empty/
    # partial pass as dimensions shrink toward 1)
    assert np.array_equal(M.decode_png(M.encode_png(rgb, interlace=True)), rgb)
    rgb16 = (rgb.astype(np.uint16) << 8) | rgb[:, :, ::-1].astype(np.uint16)
    assert np.array_equal(M.decode_png(M.encode_png(rgb16)), rgb16)
    assert np.array_equal(
        M.decode_png(M.encode_png(rgb16, interlace=True)), rgb16
    )
    i = np.arange(256, dtype=np.int64)
    pal = np.stack([(i * 7) % 256, (i * 13) % 256, (i * 29) % 256], axis=1)
    idx = rgb[:, :, 0]  # arbitrary byte plane as the indexed image
    dec = M.decode_gif(M.encode_gif(idx, pal.astype(np.uint8)))
    assert np.array_equal(dec["indexed"], idx)


_coeff_blocks = st.lists(
    st.lists(
        st.tuples(st.integers(0, 63), st.integers(-1023, 1023)),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=6,
)


@given(blocks_spec=_coeff_blocks)
@settings(max_examples=40, deadline=None)
def test_jpeg_entropy_layer_roundtrips_arbitrary_coefficients(blocks_spec):
    """PROPERTY: the JPEG entropy layer (canonical Huffman, DC prediction,
    run lengths, ZRL, magnitude categories, byte stuffing) is exactly
    invertible for ARBITRARY sparse quantized coefficient blocks across
    the full baseline AC range — the lossless core inside the lossy
    format."""
    import numpy as np

    from google_analytics_dataframes_spark.operators import multimodal as M

    nb = len(blocks_spec)
    blocks = np.zeros((1, nb, 64), np.int32)
    for b, spec in enumerate(blocks_spec):
        for k, v in spec:
            blocks[0, b, k] = v
    jp = M.encode_jpeg_coeffs(blocks, 8 * nb, 8)
    _px, coeffs = M.decode_jpeg(jp, return_coeffs=True)
    assert np.array_equal(coeffs[0], blocks)


@given(
    samples=st.lists(
        st.integers(-32768, 32767), min_size=1, max_size=500
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=30, deadline=None)
def test_wav_roundtrips_arbitrary_pcm(samples, rate):
    """PROPERTY: WAV encode/decode is the identity on arbitrary int16 PCM
    at any supported rate (including full-range extremes)."""
    import numpy as np

    from google_analytics_dataframes_spark.operators import multimodal as M

    s = np.asarray(samples, np.int16)
    out = M.decode_wav(M.encode_wav(s, rate))
    assert out["sample_rate"] == rate
    assert np.array_equal(out["samples"][:, 0], s)


_frames = st.integers(1, 4).flatmap(
    lambda n: st.integers(1, 12).flatmap(
        lambda h: st.integers(1, 12).flatmap(
            lambda w: st.binary(
                min_size=n * h * w * 3, max_size=n * h * w * 3
            ).map(lambda b: (n, h, w, b))
        )
    )
)


@given(fr=_frames)
@settings(max_examples=30, deadline=None)
def test_avi_dib_roundtrips_arbitrary_frames(fr):
    """PROPERTY: the uncompressed-DIB AVI container is the identity on
    ARBITRARY frame content and geometry (row padding 0-3 bytes, any
    frame count) — the container analogue of the lossless-image
    property above."""
    import numpy as np

    from google_analytics_dataframes_spark.operators import multimodal as M

    n, h, w, raw = fr
    frames = np.frombuffer(raw, np.uint8).reshape(n, h, w, 3)
    out = M.decode_avi(M.encode_avi(frames, 25))
    assert (out["n_frames"], out["height"], out["width"]) == (n, h, w)
    assert np.array_equal(out["frames"], frames)


def test_g711_kernels_match_scalar_reference_exhaustively():
    """The vectorized G.711 kernels (frexp-based exponent extraction)
    must agree code-for-code and value-for-value with independent
    scalar implementations written directly from the segment tables —
    over the ENTIRE int16 domain and all 256 codes.  This pins the
    exact mapping, which the round-trip-bound tests alone cannot (a
    consistent bug in both directions would pass those)."""
    import numpy as np

    from google_analytics_dataframes_spark.operators import multimodal as M

    def ulaw_ref(x):
        sign = 0x80 if x < 0 else 0
        m = min(abs(x), 32635) + 132
        exp = next(e for e in range(8) if m < (256 << e))
        return ~(sign | (exp << 4) | ((m >> (exp + 3)) & 0xF)) & 0xFF

    def ulaw_dec_ref(c):
        u = ~c & 0xFF
        m = ((((u & 0xF) << 3) + 132) << ((u >> 4) & 7)) - 132
        return -m if u & 0x80 else m

    _SEG_END = [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF]

    def alaw_ref(x):
        p = x >> 3
        mask = 0xD5 if p >= 0 else 0x55
        p = min(p if p >= 0 else -p - 1, 0xFFF)
        seg = next(i for i, e in enumerate(_SEG_END) if p <= e)
        mant = (p >> 1) & 0xF if seg < 2 else (p >> seg) & 0xF
        return ((seg << 4) | mant) ^ mask

    def alaw_dec_ref(c):
        a = c ^ 0x55
        t = (a & 0xF) << 4
        seg = (a >> 4) & 7
        t = t + 8 if seg == 0 else (t + 0x108) << max(seg - 1, 0)
        return t if a & 0x80 else -t

    full = np.arange(-32768, 32768, dtype=np.int16)
    codes = np.arange(256, dtype=np.uint8)
    assert np.array_equal(
        M._ulaw_compress(full),
        np.array([ulaw_ref(int(v)) for v in full], np.uint8),
    )
    assert np.array_equal(
        M._alaw_compress(full),
        np.array([alaw_ref(int(v)) for v in full], np.uint8),
    )
    assert np.array_equal(
        M._ulaw_expand(codes),
        np.array([ulaw_dec_ref(int(c)) for c in codes], np.int16),
    )
    assert np.array_equal(
        M._alaw_expand(codes),
        np.array([alaw_dec_ref(int(c)) for c in codes], np.int16),
    )


_scd2_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.integers(min_value=0, max_value=20),  # ts seconds (collisions likely)
        st.sampled_from(["a", "b", "c", "purchase"]),
    ),
    min_size=1,
    max_size=30,
)


@given(events=_scd2_events)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_point_in_time_equals_sequential_reference(spark, events):
    """rb30's SCD2 point-in-time join must equal the obvious sequential
    reference on arbitrary event streams — including duplicate
    timestamps within a user (where the half-open [eff_from, eff_to)
    ranges make every zero-width version unmatchable and the LAST
    same-timestamp version win) and purchases before any version (which
    must drop out)."""
    from google_analytics_dataframes_spark.queries.report_queries import (
        scd2_point_in_time,
    )

    rows = [
        (i, u, t, et, float(i))  # event_id = list index (unique), value = id
        for i, (u, t, et) in enumerate(events)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s long, event_type string, value double"
    ).select(
        "event_id",
        "user_id",
        F.timestamp_seconds("ts_s").alias("ts"),
        "event_type",
        "value",
    )
    got = {
        (r["event_id"], r["seg"])
        for r in scd2_point_in_time(ev).select("event_id", "seg").collect()
    }

    # sequential reference: for each purchase, the version in effect is the
    # latest non-purchase event (by ts then event_id) at or before its ts
    want = set()
    for pid, (pu, pt, pet) in enumerate(events):
        if pet != "purchase":
            continue
        candidates = [
            (t, vid, vet)
            for vid, (vu, t, vet) in enumerate(events)
            if vu == pu and vet != "purchase" and t <= pt
        ]
        if candidates:
            _, _, seg = max(candidates)
            want.add((pid, seg))
    assert got == want


_intervals = st.tuples(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=15),  # a0s
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=15),  # b0s
    st.integers(min_value=1, max_value=12),  # a_len
    st.integers(min_value=1, max_value=12),  # b_len
    st.integers(min_value=1, max_value=9),  # bin width
)


@given(spec=_intervals)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_binned_overlap_join_equals_naive_reference(spark, spec):
    """j17's binning core must produce EXACTLY the naive quadratic
    overlap join's pair set — each true pair exactly once — for
    arbitrary interval starts, lengths, and bin widths, including the
    dedup corner cases: pairs spanning several shared bins, identical
    starts, touching-but-not-overlapping intervals (half-open), and
    width larger than either interval."""
    from google_analytics_dataframes_spark.queries.joins import binned_overlap_join

    a0s, b0s, a_len, b_len, width = spec
    a = spark.createDataFrame(
        [(i, v) for i, v in enumerate(a0s)], "a_id long, a0 long"
    )
    b = spark.createDataFrame(
        [(i, v) for i, v in enumerate(b0s)], "b_id long, b0 long"
    )
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in binned_overlap_join(a, b, a_len, b_len, width)
        .select("a_id", "b_id")
        .collect()
    )
    want = sorted(
        (i, j)
        for i, av in enumerate(a0s)
        for j, bv in enumerate(b0s)
        if av < bv + b_len and bv < av + a_len
    )
    assert got == want
