"""Round-7 adversarial properties: the vendored codecs and container
walks must be TOTAL over byte-space — any input either decodes or
raises the documented (ValueError, NotImplementedError) pair; never an
IndexError/struct.error, and never a hang (the zero-segment-length
JPEG stall this suite was written against).  Plus round-trip laws for
the encode/decode pairs.  No Spark session needed — pure byte work."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tiki_e_commerce_analytics_etl_spark.operators import (
    isobmff,
    jpeg_min,
    multimodal as mm,
    png_min,
)

EXPECTED = (ValueError, NotImplementedError)


def _total(fn, payload):
    try:
        fn(payload)
    except EXPECTED:
        pass


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=300))
def test_decoders_total_over_random_bytes(data):
    _total(jpeg_min.decode, data)
    _total(jpeg_min.dimensions, data)
    _total(png_min.decode, data)
    _total(mm.avi_demux, data)
    _total(isobmff.mp4_demux, data)
    _total(mm.container_demux, data)


def _fixtures():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    jpeg = jpeg_min.encode_gray(img)
    png = png_min.encode_gray(img)
    avi = mm.avi_mux([b"abcd", b"efgh"], width=4, height=1, bit_count=8)
    mp4 = isobmff.mp4_mux([b"abcd", b"efgh"], width=4, height=1)
    fmp4 = isobmff.mp4_mux_fragmented([b"abcd", b"efgh"], width=4, height=1)
    return {"jpeg": jpeg, "png": png, "avi": avi, "mp4": mp4, "fmp4": fmp4}


_FIX = _fixtures()


@settings(max_examples=120, deadline=None)
@given(
    kind=st.sampled_from(sorted(_FIX)),
    pos=st.integers(min_value=0, max_value=10_000),
    bit=st.integers(min_value=0, max_value=7),
)
def test_decoders_total_over_bitflipped_fixtures(kind, pos, bit):
    """Single-bit corruption of a VALID container/image: decode may
    succeed (the flip hit padding/ignored bytes) or raise the
    documented errors — nothing else, and no stall."""
    raw = bytearray(_FIX[kind])
    raw[pos % len(raw)] ^= 1 << bit
    data = bytes(raw)
    if kind == "jpeg":
        _total(jpeg_min.decode, data)
        _total(jpeg_min.dimensions, data)
    elif kind == "png":
        _total(png_min.decode, data)
    elif kind == "avi":
        _total(mm.avi_demux, data)
        _total(mm.avi_pixel_stats, data)
    else:
        _total(isobmff.mp4_demux, data)
        _total(mm.mp4_pixel_stats, data)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_q1_roundtrip_error_bound(h, w, seed):
    """At quantization step 1 only float-DCT rounding remains: decode
    error is at most 1 gray level for ANY image, any dimensions."""
    img = np.random.default_rng(seed).integers(0, 256, size=(h, w), dtype=np.uint8)
    dec = jpeg_min.decode(jpeg_min.encode_gray(img))
    assert dec.shape == (h, w)
    assert int(np.abs(dec.astype(int) - img.astype(int)).max()) <= 1


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_bit_exact(h, w, seed):
    img = np.random.default_rng(seed).integers(0, 256, size=(h, w), dtype=np.uint8)
    assert np.array_equal(png_min.decode(png_min.encode_gray(img)), img)


@settings(max_examples=25, deadline=None)
@given(
    frames=st.lists(st.binary(min_size=1, max_size=40), min_size=1, max_size=6),
    spc=st.integers(min_value=0, max_value=4),
    co64=st.booleans(),
)
def test_mp4_roundtrip_any_frames(frames, spc, co64):
    """Sample tables reproduce ANY frame list byte-exactly under any
    chunking knob."""
    p = isobmff.mp4_mux(frames, samples_per_chunk=spc, co64=co64)
    assert isobmff.mp4_demux(p)[1] == frames


@settings(max_examples=25, deadline=None)
@given(
    frames=st.lists(st.binary(min_size=1, max_size=40), min_size=1, max_size=6),
    fpf=st.integers(min_value=1, max_value=4),
    base_mode=st.sampled_from(["moof", "explicit", "default"]),
)
def test_mp4_fragmented_roundtrip_any_frames(frames, fpf, base_mode):
    """The fragment run tables reproduce ANY frame list byte-exactly
    under any fragmentation grain and tfhd base mode (round 8)."""
    p = isobmff.mp4_mux_fragmented(
        frames, frames_per_fragment=fpf, base_mode=base_mode
    )
    assert isobmff.mp4_demux(p)[1] == frames


def test_zero_seglen_jpeg_raises_not_hangs():
    """The regression this file exists for: a 0-length segment field
    must raise, not stall the marker walk."""
    bad = b"\xff\xd8\xff\xe0\x00\x00junk"
    with pytest.raises(ValueError, match="segment length"):
        jpeg_min.decode(bad)
    with pytest.raises(ValueError, match="segment length"):
        jpeg_min.dimensions(bad)

# -- pinned fuzz-found regressions (each was a crash or a ~2-minute
# -- stall before the guards landed; all must now raise ValueError fast)

def _stall_mp4():
    """Valid mux output with the stsc entry-count field mutated to
    233: zero-filled phantom runs drove _sample_ranges to materialize
    multi-GB per_chunk lists (~110 s measured) before the box-size
    check landed."""
    p = bytearray(isobmff.mp4_mux([b"abcd", b"efgh"], width=4, height=1))
    i = p.index(b"stsc")
    p[i + 8 : i + 12] = (233).to_bytes(4, "big")
    return bytes(p)


def test_mp4_phantom_stsc_entries_raise_fast():
    import time

    t0 = time.time()
    with pytest.raises(ValueError, match="stsc entry count"):
        isobmff.mp4_demux(_stall_mp4())
    assert time.time() - t0 < 1.0


def test_mp4_non_monotonic_stsc_raises():
    # 4 samples chunked 3-per-chunk → chunks of [3, 1] samples → a
    # genuine two-run stsc [(1,3),(2,1)]; rewrite the second run's
    # first_chunk 2→1 to violate §8.7.4 strict monotonicity
    p = bytearray(isobmff.mp4_mux([bytes([i]) * 3 for i in range(4)], samples_per_chunk=3))
    i = p.index(b"stsc")
    assert int.from_bytes(p[i + 8 : i + 12], "big") == 2  # two runs
    p[i + 24 : i + 28] = (1).to_bytes(4, "big")
    with pytest.raises(ValueError, match="non-monotonic stsc"):
        isobmff.mp4_demux(bytes(p))


def test_jpeg_corrupt_dc_category_raises():
    """A corrupt Huffman table can emit DC categories up to 255;
    receive(255) built a >2^63 coefficient and crashed the int64
    store with OverflowError before the T.81 F.1.2.1.1 cap."""
    img = np.zeros((8, 8), dtype=np.uint8)
    p = bytearray(jpeg_min.encode_gray(img))
    # mutate a DC Huffman VALUE byte (category) to 0xFF: find DHT
    i = p.index(b"\xff\xc4")
    # class/dest byte at i+4; bits at i+5..i+20; first value at i+21
    p[i + 21] = 0xFF
    try:
        jpeg_min.decode(bytes(p))
    except (ValueError, NotImplementedError):
        pass  # exact failure point depends on code assignment; any
        # documented error is fine — the OverflowError is not


def test_key_skew_profile_hand_computed(request):
    spark = request.getfixturevalue("spark")
    from pyspark.sql import functions as F
    from tiki_e_commerce_analytics_etl_spark.operators import profile

    # 3 keys: a=6 rows, b=3, c=1 -> total=10, n_keys=3, max=6
    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, "k: string")
    out = {
        r["key"]: r
        for r in profile.key_skew_profile(
            df, ["k"], top_n=2, target_rows_per_bucket=2
        ).collect()
    }
    assert set(out) == {"a", "b"}  # top-2 only
    a = out["a"]
    assert (a["key_rows"], a["heavy_rank"]) == (6, 1)
    assert a["share_ppm"] == 600_000
    assert (a["total_rows"], a["n_keys"], a["max_key_rows"]) == (10, 3, 6)
    assert a["skew_ppm"] == 1_800_000  # max 6 is 1.8x the mean 10/3
    assert a["salt_buckets"] == 3  # ceil(6/2)
    b = out["b"]
    assert (b["key_rows"], b["heavy_rank"], b["salt_buckets"]) == (3, 2, 2)

    # composite key renders with the unit separator; tiebreak key-asc
    df2 = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (1, "z")], "a: int, b: string"
    )
    top = profile.key_skew_profile(df2, ["a", "b"], top_n=3).collect()
    assert top[0]["key"] == "1\x1fx" and top[0]["key_rows"] == 2
    assert [r["key"] for r in top[1:]] == ["1\x1fz", "2\x1fy"]

    # advisor regression (round 8): NULL components must render
    # explicitly — (NULL,'x'), ('x',NULL) and ('x','x') are THREE
    # distinct composite keys, not one merged "x" bucket
    df3 = spark.createDataFrame(
        [(None, "x"), (None, "x"), ("x", None), ("x", "x")],
        "a: string, b: string",
    )
    nulltop = {
        r["key"]: r["key_rows"]
        for r in profile.key_skew_profile(df3, ["a", "b"], top_n=5).collect()
    }
    assert nulltop == {"\x00\x1fx": 2, "x\x1f\x00": 1, "x\x1fx": 1}
    assert all(
        r["n_keys"] == 3
        for r in profile.key_skew_profile(df3, ["a", "b"], top_n=5).collect()
    )

    # plan shape: top-N must be TakeOrdered, never a global Sort+Window
    # over the raw counts
    plan = profile.key_skew_profile(df, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    import pytest as _p

    with _p.raises(ValueError):
        profile.key_skew_profile(df, [])
    with _p.raises(ValueError):
        profile.key_skew_profile(df, ["k"], target_rows_per_bucket=0)


def test_orc_roundtrip_preserves_types_and_values(request, tmp_path):
    """ORC write/read must round-trip the tricky types: timestamps
    (µs), dates, decimals, arrays, nulls, unicode strings — and honor
    partition pruning through the Hive layout."""
    import datetime as _dt
    from decimal import Decimal

    spark = request.getfixturevalue("spark")
    from pyspark.sql import Row, functions as F
    from tiki_e_commerce_analytics_etl_spark import io as engine_io

    rows = [
        Row(
            k=1,
            s="xin chào thế giới",
            ts=_dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
            d=_dt.date(2024, 3, 1),
            dec=Decimal("12345.67"),
            arr=[1, 2, 3],
            part="a",
        ),
        Row(k=2, s=None, ts=None, d=None, dec=None, arr=None, part="b"),
    ]
    schema = (
        "k INT, s STRING, ts TIMESTAMP, d DATE, dec DECIMAL(18,2), "
        "arr ARRAY<INT>, part STRING"
    )
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "orc_zone")
    engine_io.write_orc(df, path, partition_cols=["part"])
    back = engine_io.read_orc(spark, path, schema=df.schema)
    got = {r["k"]: r for r in back.collect()}
    assert got[1]["s"] == "xin chào thế giới"
    assert got[1]["ts"] == _dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    assert got[1]["d"] == _dt.date(2024, 3, 1)
    assert got[1]["dec"] == Decimal("12345.67")
    assert got[1]["arr"] == [1, 2, 3]
    assert all(got[2][c] is None for c in ("s", "ts", "d", "dec", "arr"))
    # schema conformance contract holds (order + types)
    assert [f.name for f in back.schema.fields] == [
        f.name for f in df.schema.fields
    ]
    # partition pruning reaches the scan
    plan = (
        back.filter(F.col("part") == "a")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(part" in plan


def test_winsorize_hand_computed(request):
    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import quality

    # group g: values 0..10 -> p10 = 1.0, p90 = 9.0 (linear interp on
    # sorted 11 values: rank r = p*(n-1) lands exactly on 1 and 9)
    rows = [("g", float(v)) for v in range(11)]
    rows += [("h", 5.0), ("h", None), ("n", None)]  # null value; all-null group
    df = spark.createDataFrame(rows, "grp: string, v: double")
    out = quality.winsorize(df, "grp", "v", lo=0.1, hi=0.9)
    got = [
        (r["grp"], r["v"], r["v_winsorized"], r["was_clipped"])
        for r in out.collect()
    ]
    g = {v: (w, c) for grp, v, w, c in got if grp == "g"}
    assert g[0.0] == (1.0, True) and g[10.0] == (9.0, True)
    assert g[1.0] == (1.0, False) and g[5.0] == (5.0, False) and g[9.0] == (9.0, False)
    assert g[2.0] == (2.0, False)
    # single-value group clamps to itself; NULLs stay NULL
    h = [(v, w, c) for grp, v, w, c in got if grp == "h"]
    assert (5.0, 5.0, False) in h and (None, None, False) in h
    # all-NULL group passes through (bounds absent)
    assert [(v, w, c) for grp, v, w, c in got if grp == "n"] == [(None, None, False)]

    import pytest as _p

    with _p.raises(ValueError):
        quality.winsorize(df, "grp", "v", lo=0.9, hi=0.1)


def test_triangle_stats_hand_built_graphs(request):
    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import graph

    def stats(edge_list):
        df = spark.createDataFrame(edge_list, "src: long, dst: long")
        return graph.triangle_stats(df).collect()[0]

    # K4: 4 nodes, 6 edges, 12 wedges, 4 triangles, gcc = 1
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = stats(k4)
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (4, 6, 12, 4)
    assert r["gcc_ppm"] == 1_000_000

    # path 0-1-2: one wedge, no triangle
    r = stats([(0, 1), (1, 2)])
    assert (r["n_wedges"], r["n_triangles"], r["gcc_ppm"]) == (1, 0, 0)

    # canonicalization: duplicates, reversed direction, self-loops all collapse
    messy = [(0, 1), (1, 0), (0, 1), (2, 2), (1, 2), (0, 2)]
    r = stats(messy)
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)

    # star (hub degree 5): orientation sends every edge INTO the hub
    # -> 0 oriented wedges -> 0 triangles despite 10 unoriented wedges
    star = [(9, i) for i in range(5)]
    r = stats(star)
    assert (r["n_wedges"], r["n_triangles"]) == (10, 0)

    # empty graph (only self-loops)
    r = stats([(1, 1)])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"], r["gcc_ppm"]) == (0, 0, 0, 0)


def test_char_entropy_and_compression_screen(request):
    """Round 8 information-density screens.  Entropy: hand-computable
    values, degenerate-vs-natural ordering, empty/NULL → 0.
    Compression: repetition compresses harder than high-entropy text,
    ratio bounds, determinism across runs."""
    import math

    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),                      # one symbol -> H = 0
            (2, "abababab"),                      # two equal symbols -> ln 2
            (3, "abcd"),                          # four equal -> ln 4
            (4, ""),                              # empty -> 0
            (5, None),                            # NULL -> 0
            (6, "the quick brown fox jumps"),     # natural prose
        ],
        "doc_id: long, text: string",
    )
    ent = {
        r["doc_id"]: r["entropy_upnats"]
        for r in tx.info_density(docs).collect()
    }
    assert ent[1] == 0 and ent[4] == 0 and ent[5] == 0
    assert ent[2] == math.floor(1e6 * math.log(2))
    assert ent[3] == math.floor(1e6 * math.log(4))
    assert ent[1] < ent[2] < ent[3] < ent[6]

    rep = "spam spam spam spam spam spam spam spam " * 20
    mixed = "the quick brown fox jumps over the lazy dog 0123456789 " * 14
    cdocs = spark.createDataFrame(
        [(1, rep), (2, mixed), (3, "")], "doc_id: long, text: string"
    )
    comp = {r["doc_id"]: r for r in tx.compression_screen(cdocs).collect()}
    assert comp[1]["n_bytes"] == len(rep.encode())
    # repetition compresses far harder than varied prose
    assert comp[1]["ratio_ppm"] < comp[2]["ratio_ppm"]
    for d in (1, 2):
        assert 0 < comp[d]["compressed_bytes"] < comp[d]["n_bytes"]
        assert comp[d]["ratio_ppm"] == (
            1_000_000 * comp[d]["compressed_bytes"] // comp[d]["n_bytes"]
        )
    assert (comp[3]["n_bytes"], comp[3]["ratio_ppm"]) == (0, 0)
    # deterministic across runs
    again = {r["doc_id"]: r["compressed_bytes"] for r in tx.compression_screen(cdocs).collect()}
    assert again == {k: v["compressed_bytes"] for k, v in comp.items()}


def test_psi_drift_hand_computed(request):
    """Round 8 PSI drift: hand-computable counts and terms on planted
    populations; identical populations score ~0; empty-on-one-side
    bins score NULL (not an epsilon clamp)."""
    import math

    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import quality

    # reference uniform over 1..100 (one value per row); current
    # shifted upward: all mass in the top half
    ref = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v: double")
    cur = spark.createDataFrame([(float(i),) for i in range(51, 151)], "v: double")
    out = {r["bin"]: r for r in quality.psi_drift(ref, cur, "v", n_bins=2).collect()}
    # ref boundary = median 50.5; ref splits 50/50; cur: 0 <=50.5... no,
    # cur has none below 50.5 except... 51..150 all > 50.5 -> bin 1
    assert (out[0]["ref_n"], out[0]["cur_n"]) == (50, 0)
    assert (out[1]["ref_n"], out[1]["cur_n"]) == (50, 100)
    assert out[0]["psi_term"] is None  # empty current bin -> NULL
    # bin 1: p=0.5, q=1.0 -> (0.5-1.0)*ln(0.5) = 0.3465735...
    assert abs(out[1]["psi_term"] - (-0.5) * math.log(0.5)) < 1e-12

    # identical populations: every term finite and ~0
    same = quality.psi_drift(ref, ref, "v", n_bins=4).collect()
    assert all(abs(r["psi_term"]) < 1e-12 for r in same)
    assert sum(r["ref_n"] for r in same) == 100

    import pytest as _p

    with _p.raises(ValueError):
        quality.psi_drift(ref, cur, "v", n_bins=1)


def test_benford_screen_hand_computed(request):
    """Round 8 Benford screen: first-significant-digit extraction over
    tricky magnitudes (sub-1 fractions, negatives, zero, NULL) and
    exact ppm arithmetic on a planted distribution."""
    import math

    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import quality

    rows = (
        [(100.0,)] * 3        # digit 1
        + [(0.002,)] * 2      # sub-1: first significant digit 2
        + [(-30.5,)]          # negative: abs -> 3
        + [(9.99,)]           # 9
        + [(0.0,), (None,)]   # excluded
    )
    df = spark.createDataFrame(rows, "v: double")
    out = {r["digit"]: r for r in quality.benford_screen(df, "v").collect()}
    assert {d: out[d]["n"] for d in out} == {1: 3, 2: 2, 3: 1, 9: 1}
    total = 7
    for d, r in out.items():
        assert r["observed_ppm"] == 1_000_000 * r["n"] // total
        assert r["expected_ppm"] == math.floor(1_000_000 * math.log10(1 + 1 / d))
        assert r["dev_ppm"] == r["observed_ppm"] - r["expected_ppm"]


def test_audio_window_energy_hand_computed(request):
    """Round 8 windowed audio energy: hand-computed energy/peak per
    window, short tail window (never zero-padded), empty audio yields
    no rows, bad window validation."""
    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import multimodal as mm

    # 'abcdef' -> samples (ord-128)*256; windows of 4 -> [4, 2]
    docs = spark.createDataFrame([(1, "abcdef"), (2, "")], "doc_id: long, text: string")
    to_wav = mm.text_to_wav_udf(framerate=8000)
    from pyspark.sql import functions as F

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        to_wav("text").alias("payload"),
    )
    out = {
        (r["media_id"], r["win_idx"]): r
        for r in mm.audio_window_energy(media, window_samples=4).collect()
    }
    smp = [(ord(c) - 128) * 256 for c in "abcdef"]
    assert set(out) == {(1, 0), (1, 1)}  # doc 2 is empty -> no rows
    w0, w1 = out[(1, 0)], out[(1, 1)]
    assert (w0["n_samples"], w1["n_samples"]) == (4, 2)  # short tail kept short
    assert w0["energy"] == sum(s * s for s in smp[:4])
    assert w1["energy"] == sum(s * s for s in smp[4:])
    assert w0["peak"] == max(abs(s) for s in smp[:4])
    assert w1["peak"] == max(abs(s) for s in smp[4:])

    import pytest as _p

    with _p.raises(ValueError):
        mm.audio_window_energy(media, window_samples=0)


def test_dhash_properties():
    """dHash laws (pure byte work, no Spark): identical images hash
    equal; a mild brightness shift moves ZERO bits (difference-based);
    small local noise moves few bits; structurally different images
    are far apart; sub-grid images hash without dividing by zero."""
    import numpy as np

    from tiki_e_commerce_analytics_etl_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 200, size=(32, 40), dtype=np.uint8)
    h1 = mm.dhash_hex(img)
    assert h1 == mm.dhash_hex(img.copy()) and len(h1) == 16

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    # uniform brightness shift: every cell moves equally -> same bits
    assert ham(h1, mm.dhash_hex(np.clip(img.astype(int) + 30, 0, 255))) == 0
    # small local noise: few bits
    noisy = img.copy()
    noisy[3, 5] = 255
    assert ham(h1, mm.dhash_hex(noisy)) <= 4
    # different structure: far
    other = rng.integers(0, 200, size=(32, 40), dtype=np.uint8)
    assert ham(h1, mm.dhash_hex(other)) > 10

    # tiny images (below the 8x9 grid) still hash deterministically
    assert len(mm.dhash_hex(np.array([[1, 2], [3, 4]], dtype=np.uint8))) == 16
    assert len(mm.dhash_hex(np.array([[7]], dtype=np.uint8))) == 16

    import pytest as _p

    with _p.raises(ValueError):
        mm.dhash_hex(np.zeros((0, 4), dtype=np.uint8))


def test_image_dhash_stage_dispatches_png_and_jpeg(request):
    """image_dhash decodes BOTH containers by magic bytes: a PNG and a
    JPEG of the same flat image land on the same hash (JPEG q1 decode
    of a constant image is exact)."""
    import numpy as np

    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import (
        jpeg_min,
        multimodal as mm,
        png_min,
    )

    img = np.full((16, 18), 128, dtype=np.uint8)
    img[:, :9] = 40  # left-dark / right-bright structure
    png = png_min.encode_gray(img)
    jpg = jpeg_min.encode_gray(img)
    media = spark.createDataFrame(
        [(1, "image", png), (2, "image", jpg), (3, "image", None)],
        "media_id: long, media_type: string, payload: binary",
    )
    out = {r["media_id"]: r for r in mm.image_dhash(media).collect()}
    assert set(out) == {1, 2}  # NULL payload dropped
    assert (out[1]["width"], out[1]["height"]) == (18, 16)

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    # same structure through two codecs -> near-identical hashes
    assert ham(out[1]["dhash"], out[2]["dhash"]) <= 2


def test_dhash_matches_independent_reference():
    """dhash_hex vs an independently-written reference (plain per-pixel
    loops, no shared code or numpy slicing) over random images of many
    shapes, including sub-grid sizes."""
    import numpy as np

    from tiki_e_commerce_analytics_etl_spark.operators import multimodal as mm

    def ref_dhash(img):
        h, w = len(img), len(img[0])
        cells = []
        for r in range(8):
            rlo = min(r * h // 8, h - 1)
            rhi = max(rlo + 1, (r + 1) * h // 8)
            row = []
            for j in range(9):
                clo = min(j * w // 9, w - 1)
                chi = max(clo + 1, (j + 1) * w // 9)
                s = 0
                for y in range(rlo, rhi):
                    for x in range(clo, chi):
                        s += int(img[y][x])
                row.append(s // ((rhi - rlo) * (chi - clo)))
            cells.append(row)
        hexs = ""
        for r in range(8):
            byte = 0
            for j in range(8):
                byte = byte * 2 + (1 if cells[r][j] > cells[r][j + 1] else 0)
            hexs += f"{byte:02x}"
        return hexs

    rng = np.random.default_rng(321)
    shapes = [(1, 5), (1, 64), (2, 3), (7, 9), (8, 9), (16, 16), (33, 50)]
    for h, w in shapes:
        for _ in range(3):
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            assert mm.dhash_hex(img) == ref_dhash(img.tolist()), (h, w)


def test_hex_hamming_pairs_complete_vs_brute_force(request):
    """hex_hamming_pairs must find EXACTLY the brute-force pair set
    (pigeonhole completeness at the configured radius) on random hex
    signatures, including exact duplicates (distance 0)."""
    import itertools
    import random

    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import dedup as dedup_ops

    rng = random.Random(11)
    base = rng.getrandbits(64)
    sigs = []
    for i in range(40):
        v = base
        for _ in range(rng.randint(0, 12)):  # up to 12 bit flips away
            v ^= 1 << rng.randrange(64)
        sigs.append((i, f"{v:016x}"))
    sigs += [(100, sigs[0][1]), (101, sigs[1][1])]  # planted exact dups
    df = spark.createDataFrame(sigs, "id: long, h: string")

    for radius in (0, 3, 8):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup_ops.hex_hamming_pairs(
                df, id_col="id", sig_col="h", radius=radius
            ).collect()
        }
        want = set()
        for (ia, ha), (ib, hb) in itertools.combinations(sigs, 2):
            d = bin(int(ha, 16) ^ int(hb, 16)).count("1")
            if d <= radius:
                a, b = min(ia, ib), max(ia, ib)
                want.add((a, b, d))
        assert got == want, f"radius {radius}"

    import pytest as _p

    with _p.raises(ValueError):
        dedup_ops.hex_hamming_pairs(df, "id", "h", radius=64)
