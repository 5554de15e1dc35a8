"""Round-9 regression tests: the round-8 ADVICE fixes.

1. hex_hamming_pairs at radius >= hex_len — the pigeonhole guarantee
   cannot be formed from whole-hex-char chunks, so the operator must
   fall back to the exact all-pairs scan over DISTINCT signatures
   (completeness over speed) instead of silently missing pairs.
2. hex_hamming_pairs duplicate (id, sig) input rows must not duplicate
   output pairs.
3. Fragmented MP4 implicit-base mode (ISO 14496-12 §8.8.7): the base
   data offset of a second/subsequent traf with NEITHER tfhd base flag
   is the END of the preceding traf's data — not the moof's first byte.
"""

import itertools
import random

import pytest

from tiki_e_commerce_analytics_etl_spark.operators import dedup as dedup_ops
from tiki_e_commerce_analytics_etl_spark.operators import isobmff
from tiki_e_commerce_analytics_etl_spark.operators.isobmff import (
    _TRUN_DATA_OFFSET,
    _TRUN_SAMPLE_SIZE,
    _box,
    _full,
)


def test_hex_hamming_pairs_large_radius_falls_back_complete(request):
    """radius in [hex_len, 4*hex_len): the chunk join cannot be
    pigeonhole-complete (16 one-char chunks can't cover 16+ flips),
    so the exact all-pairs-over-distinct fallback must find EXACTLY
    the brute-force pair set."""
    spark = request.getfixturevalue("spark")
    rng = random.Random(17)
    base = rng.getrandbits(64)
    sigs = []
    for i in range(30):
        v = base
        for _ in range(rng.randint(0, 24)):  # well past hex_len flips
            v ^= 1 << rng.randrange(64)
        sigs.append((i, f"{v:016x}"))
    sigs += [(100, sigs[0][1])]  # planted exact dup
    df = spark.createDataFrame(sigs, "id: long, h: string")

    for radius in (16, 20, 63):  # all >= hex_len -> fallback path
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
                want.add((min(ia, ib), max(ia, ib), d))
        assert got == want, f"radius {radius}"


def test_hex_hamming_pairs_multi_index_complete(request):
    """agree >= 2 (Manku multi-index, the diverse-corpus route) must
    find EXACTLY the brute-force pair set — completeness of the
    chunk-combination join at every supported agree level."""
    spark = request.getfixturevalue("spark")
    rng = random.Random(23)
    # diverse sigs: random base per doc, then planted near-dups
    sigs = [(i, f"{rng.getrandbits(64):016x}") for i in range(25)]
    for i in range(25, 40):  # near-dups of earlier sigs
        v = int(sigs[i % 25][1], 16)
        for _ in range(rng.randint(0, 8)):
            v ^= 1 << rng.randrange(64)
        sigs.append((i, f"{v:016x}"))
    df = spark.createDataFrame(sigs, "id: long, h: string")

    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(sigs, 2):
        d = bin(int(ha, 16) ^ int(hb, 16)).count("1")
        want[(min(ia, ib), max(ia, ib))] = d

    for radius, agree in ((8, 2), (8, 3), (4, 4), (0, 2), (13, 3)):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup_ops.hex_hamming_pairs(
                df, id_col="id", sig_col="h", radius=radius, agree=agree
            ).collect()
        }
        expect = {(a, b, d) for (a, b), d in want.items() if d <= radius}
        assert got == expect, f"radius {radius} agree {agree}"

    with pytest.raises(ValueError):  # radius+agree > hex_len
        dedup_ops.hex_hamming_pairs(df, "id", "h", radius=15, agree=2)
    with pytest.raises(ValueError):
        dedup_ops.hex_hamming_pairs(df, "id", "h", radius=8, agree=0)


def test_hex_hamming_pairs_duplicate_id_sig_rows_collapse(request):
    """Duplicate (id, sig) input rows are collapsed: each unordered
    pair appears exactly once, on both the pigeonhole and the exact
    (distance-0) routes."""
    spark = request.getfixturevalue("spark")
    rows = [
        (1, "00000000000000ff"),
        (1, "00000000000000ff"),  # dup (id, sig) row
        (2, "00000000000000ff"),  # exact dup of 1
        (2, "00000000000000ff"),
        (3, "00000000000000fe"),  # 1 flip away
        (3, "00000000000000fe"),
    ]
    df = spark.createDataFrame(rows, "id: long, h: string")
    out = dedup_ops.hex_hamming_pairs(df, "id", "h", radius=2).collect()
    got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in out)
    assert got == [(1, 2, 0), (1, 3, 1), (2, 3, 1)]


def test_exact_substring_pairs_planted_duplicates(request):
    """Planted spans at arbitrary offsets: max_run_words must be the
    EXACT longest common word-run, including the internally-repetitive
    case where first-occurrence-only window indexing undercounts."""
    spark = request.getfixturevalue("spark")

    span = "one two three four five six seven eight"  # 8 words
    rows = [
        # span at offset 0 of A, offset 3 of B (arbitrary alignment)
        (1, span + " tail1 tail2"),
        (2, "pre1 pre2 pre3 " + span),
        # unrelated doc, no >=4-word overlap
        (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
        # internally-repetitive: shared span 'p q p q r s' (6 words)
        # repeats its leading bigram — all-occurrence diagonals must
        # still recover the full 6-word run
        (4, "p q p q r s xx yy"),
        (5, "zz p q p q r s"),
        # exact duplicate pair
        (6, "dup dup2 dup3 dup4 dup5 dup6 dup7"),
        (7, "dup dup2 dup3 dup4 dup5 dup6 dup7"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {
        (r["id_a"], r["id_b"]): (r["shared_windows"], r["max_run_words"])
        for r in dedup_ops.exact_substring_pairs(
            df, "text", "doc_id", min_words=4
        ).collect()
    }
    # (1,2): span of 8 -> runs of 8 words, 5 distinct 4-windows
    assert out[(1, 2)] == (5, 8)
    # (4,5): 'p q p q r s' = 6-word run -> 3 distinct 4-windows
    assert out[(4, 5)] == (3, 6)
    # (6,7): identical 7-word docs -> run 7, 4 windows
    assert out[(6, 7)] == (4, 7)
    assert not any(3 in pair for pair in out)  # doc 3 shares nothing


def _traf(track_id: int, sizes: list[int], data_offset: int | None) -> bytes:
    """Hand-built traf: tfhd with NO base flags (implicit-base mode),
    one trun with per-sample sizes and an optional data_offset."""
    tfhd = _box(
        b"tfhd", bytes([0]) + (0).to_bytes(3, "big") + track_id.to_bytes(4, "big")
    )
    tflags = _TRUN_SAMPLE_SIZE | (_TRUN_DATA_OFFSET if data_offset is not None else 0)
    body = len(sizes).to_bytes(4, "big")
    if data_offset is not None:
        body += data_offset.to_bytes(4, "big", signed=True)
    body += b"".join(s.to_bytes(4, "big") for s in sizes)
    trun = _box(b"trun", bytes([0]) + tflags.to_bytes(3, "big") + body)
    return _box(b"traf", tfhd + trun)


def _two_traf_fmp4(foreign_traf: bytes, video_sizes: list[int], mdat: bytes) -> bytes:
    """ftyp+moov from the muxer (video track 1, empty sample tables),
    then ONE hand-built moof holding [foreign traf, video traf] — the
    video traf in pure implicit-base mode (no tfhd base flags, no trun
    data_offset), the multi-traf shape the muxer never emits."""
    header = isobmff.mp4_mux_fragmented([], width=4, height=1)
    video = _traf(1, video_sizes, data_offset=None)
    mfhd = _full(b"mfhd", (1).to_bytes(4, "big"))
    moof = _box(b"moof", mfhd + foreign_traf + video)
    return header + moof + _box(b"mdat", mdat)


def test_fmp4_multi_traf_implicit_base_is_previous_traf_end():
    """§8.8.7: with neither tfhd base flag set, the SECOND traf's base
    is the end of the first traf's data.  The first (foreign, track 7)
    traf points its trun data_offset at the mdat payload and covers 8
    bytes; the video traf (track 1, no data_offset at all) must start
    exactly after them — resolving from the moof's first byte instead
    would slice moof bytes."""
    foreign_payload = b"aaabbbbb"  # sizes 3 + 5
    vid = [b"VID1", b"VID2"]
    # moof length is independent of the data_offset VALUE: build once
    # with a placeholder to learn the length, then rebuild
    probe = _traf(7, [3, 5], data_offset=0)
    mfhd = _full(b"mfhd", (1).to_bytes(4, "big"))
    moof_len = len(
        _box(b"moof", mfhd + probe + _traf(1, [4, 4], data_offset=None))
    )
    foreign = _traf(7, [3, 5], data_offset=moof_len + 8)
    payload = _two_traf_fmp4(
        foreign, [4, 4], foreign_payload + b"".join(vid)
    )
    usec, frames = isobmff.mp4_demux(payload)
    assert frames == vid
    assert usec == 40000  # trex default duration for track 1


def test_fmp4_implicit_base_after_unresolvable_traf_raises():
    """A preceding traf whose data cannot be located (foreign track,
    no size source anywhere) leaves the implicit base unresolvable:
    the video traf must raise instead of silently using the moof
    start."""
    # foreign traf: trun with NO per-sample fields, no tfhd/trex size
    tfhd = _box(b"tfhd", bytes([0]) + (0).to_bytes(3, "big") + (7).to_bytes(4, "big"))
    trun = _box(
        b"trun", bytes([0]) + (0).to_bytes(3, "big") + (2).to_bytes(4, "big")
    )
    foreign = _box(b"traf", tfhd + trun)
    payload = _two_traf_fmp4(foreign, [4, 4], b"VID1VID2")
    with pytest.raises(NotImplementedError):
        isobmff.mp4_demux(payload)


def test_fmp4_single_traf_implicit_base_unchanged():
    """The muxer's own 'default' base mode (single traf per moof,
    §8.8.7 first-traf = moof first byte) still round-trips."""
    frames = [b"abcd", b"efgh", b"ijkl"]
    p = isobmff.mp4_mux_fragmented(
        frames, width=4, height=1, base_mode="default", frames_per_fragment=2
    )
    usec, got = isobmff.mp4_demux(p)
    assert got == frames


def test_frame_signature_pairs_reencoded_twin(request):
    """Video near-dup catches what exact md5 cannot: a rendition with
    every pixel brightness-shifted by +1 keeps all frame dHashes
    (block-mean comparisons are shift-invariant) while every md5
    changes; a trimmed rendition still reaches containment 1e6 with a
    shorter ordered run."""
    import hashlib

    spark = request.getfixturevalue("spark")
    from tiki_e_commerce_analytics_etl_spark.operators import isobmff
    from tiki_e_commerce_analytics_etl_spark.operators import multimodal as mm

    rng = random.Random(7)
    frames_a = [
        bytes(rng.randrange(0, 200) for _ in range(16)) for _ in range(4)
    ]
    frames_b = [bytes(v + 1 for v in fr) for fr in frames_a]  # re-encode
    frames_c = frames_a[1:]  # trimmed rendition
    frames_d = [
        bytes(rng.randrange(0, 200) for _ in range(16)) for _ in range(4)
    ]
    vids = {1: frames_a, 2: frames_b, 3: frames_c, 4: frames_d}
    rows = [
        (vid, "video", isobmff.mp4_mux(frs, width=16, height=1))
        for vid, frs in vids.items()
    ]
    media = spark.createDataFrame(
        rows, "media_id: long, media_type: string, payload: binary"
    )
    frames = mm.frame_sample(
        media, every_ms=40, sampler=isobmff.mp4_frame_sampler
    )
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in dedup_ops.frame_signature_pairs(
            mm.frame_dhash(frames), min_containment_ppm=500_000
        ).collect()
    }

    # exact md5 sees nothing shared between A and its +1 rendition
    assert not set(hashlib.md5(f).hexdigest() for f in frames_a) & set(
        hashlib.md5(f).hexdigest() for f in frames_b
    )
    ab = pairs[(1, 2)]
    assert ab["containment_ppm"] == 1_000_000
    assert ab["max_run_frames"] == 4
    ac = pairs[(1, 3)]  # trim: full containment, run = 3 (offset diagonal)
    assert ac["containment_ppm"] == 1_000_000
    assert ac["max_run_frames"] == 3
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_hex_hamming_pairs_auto_agree(request):
    """agree='auto': the approx-distinct pass picks agree=1 under the
    threshold and the multi-index above it (threshold shrunk so the
    test stays tiny); results equal the brute-force set either way."""
    spark = request.getfixturevalue("spark")
    rng = random.Random(41)
    sigs = [(i, f"{rng.getrandbits(64):016x}") for i in range(60)]
    sigs += [(100 + i, sigs[i][1]) for i in range(5)]  # planted dups
    df = spark.createDataFrame(sigs, "id: long, h: string")

    want = set()
    for (ia, ha), (ib, hb) in itertools.combinations(sigs, 2):
        d = bin(int(ha, 16) ^ int(hb, 16)).count("1")
        if d <= 8:
            want.add((min(ia, ib), max(ia, ib), d))

    for threshold in (10, 10_000_000):  # force multi-index / force plain
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup_ops.hex_hamming_pairs(
                df, "id", "h", radius=8, agree="auto", auto_threshold=threshold
            ).collect()
        }
        assert got == want, threshold

    with pytest.raises(ValueError):
        dedup_ops.hex_hamming_pairs(df, "id", "h", radius=8, agree="bogus")


def test_audio_neardup_edited_rendition_pairs(request):
    """Audio near-dup: an edited rendition (one window's samples
    changed) still pairs at high containment with a shorter ordered
    run; unrelated audio does not pair."""
    spark = request.getfixturevalue("spark")
    from pyspark.sql import functions as F

    from tiki_e_commerce_analytics_etl_spark.operators import multimodal as mm

    rng = random.Random(5)
    base = "".join(rng.choice("abcdefgh ") for _ in range(64 * 6))  # 6 windows
    edited = base[: 64 * 2] + ("Z" * 64) + base[64 * 3 :]  # window 2 replaced
    other = "".join(rng.choice("qrstuvwx ") for _ in range(64 * 6))
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id: long, text: string"
    )
    to_wav = mm.text_to_wav_udf(framerate=8000)
    media = df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        to_wav(F.col("text")).alias("payload"),
    )
    feats = mm.audio_window_energy(media, window_samples=64)
    sigs = feats.select(
        "media_id",
        F.col("win_idx").cast("int").alias("frame_idx"),
        F.shiftright(F.col("energy"), 16).alias("sig"),
    )
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in dedup_ops.frame_signature_pairs(
            sigs, hash_col="sig", min_containment_ppm=500_000
        ).collect()
    }
    p = pairs[(1, 2)]
    assert p["shared_hashes"] >= 5  # 5 of 6 windows intact
    assert p["containment_ppm"] >= 800_000
    assert p["max_run_frames"] == 3  # run broken at the edited window
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_strip_duplicate_spans_planted(request):
    """Removal policy: the smaller id keeps every shared span; larger
    ids lose exactly the covered words; short docs and docs with no
    cross-doc span pass through intact."""
    spark = request.getfixturevalue("spark")

    span = "one two three four five"  # 5 words, k=4 -> 2 windows
    rows = [
        (1, span + " tailA tailB"),
        (2, "preX preY " + span + " endZ"),   # loses the 5 span words
        (3, "totally different words here now"),
        (4, "tiny doc"),                        # < k words: intact
        (5, span),                              # exact span only -> ''
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {
        r["doc_id"]: r
        for r in dedup_ops.strip_duplicate_spans(
            df, "text", "doc_id", min_words=4
        ).collect()
    }
    assert out[1]["clean_text"] == span + " taila tailb"  # keeper, normalized
    assert out[1]["kept_words"] == 7
    assert out[2]["clean_text"] == "prex prey endz"
    assert (out[2]["n_words"], out[2]["kept_words"]) == (8, 3)
    assert out[3]["clean_text"] == "totally different words here now"
    assert out[4]["clean_text"] == "tiny doc"
    assert out[5]["clean_text"] == "" and out[5]["kept_words"] == 0


def test_exact_substring_pairs_max_doc_freq_cap(request):
    """Hot-window cap: a boilerplate window shared by every document
    no longer generates pairs on its own; pairs with sub-cap evidence
    keep exactly that evidence (runs extend only through surviving
    windows)."""
    spark = request.getfixturevalue("spark")

    boiler = "all rights reserved contact us"  # 5 words, k=4 -> hot
    rows = [
        (i, f"doc{i}a doc{i}b " + boiler + f" doc{i}c") for i in range(1, 6)
    ]
    # plus a REAL duplicate pair whose span includes non-boiler words
    span = "real shared content here five six"
    rows += [(10, span + " x1 x2"), (11, "y0 " + span)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    capped = {
        (r["id_a"], r["id_b"]): (r["shared_windows"], r["max_run_words"])
        for r in dedup_ops.exact_substring_pairs(
            df, "text", "doc_id", min_words=4, max_doc_freq=3
        ).collect()
    }
    # boilerplate-only pairs (every 1..5 pair) are gone
    assert all(a >= 10 for a, b in capped)
    # the real pair survives with its full 6-word run (3 windows)
    assert capped[(10, 11)] == (3, 6)

    uncapped = dedup_ops.exact_substring_pairs(
        df, "text", "doc_id", min_words=4
    ).count()
    assert uncapped == 1 + 10  # real pair + C(5,2) boilerplate pairs

    # removal honors the cap too: boilerplate spans stay in place
    kept = {
        r["doc_id"]: r["clean_text"]
        for r in dedup_ops.strip_duplicate_spans(
            df, "text", "doc_id", min_words=4, max_doc_freq=3
        ).collect()
    }
    assert boiler in kept[2]           # not stripped under the cap
    assert "real shared" not in kept[11]  # true dup span still stripped
