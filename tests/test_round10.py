"""Round-10 regression tests: the round-9 ADVICE fixes.

1. Fragmented MP4: a FOREIGN traf in implicit-base mode that follows
   an unresolvable foreign traf must be skipped (its data end is
   unknowable), not abort the whole demux — the target track's trafs
   may all carry explicit base offsets and demux fine.
2. shared_windows counts DISTINCT window STRINGS (collision-proof),
   matching the docstring and the DuckDB oracle — verified via the
   __win column carried on the verified-match relation.
"""

import pytest

from tiki_e_commerce_analytics_etl_spark.operators import dedup as dedup_ops
from tiki_e_commerce_analytics_etl_spark.operators import isobmff as bm


def test_mp4_foreign_traf_after_unresolvable_foreign_traf():
    """A moof carrying (A) a foreign traf whose samples cannot be
    sized (walk_truns unresolvable -> data end unknown), then (B) a
    second foreign traf in implicit-base mode (previously: hard
    NotImplementedError at base resolution), then the video traf with
    an EXPLICIT base — the video track must still demux; only a traf
    belonging to the TARGET track may abort on an unresolvable base."""
    frames = [b"VID0", b"VID1"]
    p = bytes(
        bm.mp4_mux_fragmented(frames, frames_per_fragment=2, base_mode="explicit")
    )
    i = p.index(b"moof")
    moof_start = i - 4
    moof_size = int.from_bytes(p[moof_start : moof_start + 4], "big")
    moof_payload = p[moof_start + 8 : moof_start + moof_size]
    # traf A: track 7, 1-sample trun with NO size source anywhere
    tfhd_a = bm._box(
        b"tfhd", bytes([0]) + (0).to_bytes(3, "big") + (7).to_bytes(4, "big")
    )
    trun_a = bm._box(
        b"trun", bytes([0]) + (0).to_bytes(3, "big") + (1).to_bytes(4, "big")
    )
    # traf B: track 8, implicit-base mode (neither tfhd base flag, not
    # the first traf), per-sample trun size — base is unresolvable
    # because traf A's data end is unknown
    tfhd_b = bm._box(
        b"tfhd", bytes([0]) + (0).to_bytes(3, "big") + (8).to_bytes(4, "big")
    )
    trun_b = bm._box(
        b"trun",
        bytes([0])
        + (bm._TRUN_SAMPLE_SIZE).to_bytes(3, "big")
        + (1).to_bytes(4, "big")
        + (4).to_bytes(4, "big"),
    )
    new_moof = bm._box(
        b"moof",
        bm._box(b"traf", tfhd_a + trun_a)
        + bm._box(b"traf", tfhd_b + trun_b)
        + moof_payload,
    )
    rebuilt = p[:moof_start] + new_moof + p[moof_start + moof_size :]
    d = bm.mp4_demux_full(rebuilt)
    assert d["track"]["n_samples"] == 2

    # the honesty guard still fires when the TARGET track's own traf
    # is the one with the unresolvable implicit base: strip the video
    # tfhd's base flag and drop its explicit offset bytes
    vt = new_moof.index(b"tfhd", new_moof.index(b"tfhd", new_moof.index(b"tfhd") + 1) + 1)
    ps = vt + 4  # version byte of the video tfhd
    flags = int.from_bytes(new_moof[ps + 1 : ps + 4], "big")
    assert flags & bm._TFHD_BASE_DATA_OFFSET
    new_flags = flags & ~bm._TFHD_BASE_DATA_OFFSET
    # rebuild the video tfhd without the 8-byte base field
    tfhd_start = vt - 4
    tfhd_size = int.from_bytes(new_moof[tfhd_start : tfhd_start + 4], "big")
    stripped_tfhd = bm._box(
        b"tfhd",
        bytes([new_moof[ps]])
        + new_flags.to_bytes(3, "big")
        + new_moof[ps + 4 : ps + 8]  # track_id
        + new_moof[ps + 16 : tfhd_start + tfhd_size],  # fields past base
    )
    broken_moof_payload = (
        new_moof[8:tfhd_start] + stripped_tfhd + new_moof[tfhd_start + tfhd_size :]
    )
    broken = (
        p[:moof_start] + bm._box(b"moof", broken_moof_payload) + p[moof_start + moof_size :]
    )
    with pytest.raises(NotImplementedError, match="unresolvable"):
        bm.mp4_demux_full(broken)


def test_hex_hamming_auto_route(spark, monkeypatch):
    """agree='auto' must pick agree=1 on a duplicate-collapsing corpus
    and a multi-index agree>=2 on a diverse corpus above the
    threshold — and the route is a pure repartitioning detail: the
    diverse corpus's pair set equals brute force either way."""
    import random

    chosen = []
    orig = dedup_ops._auto_agree

    def spy(members, radius, hex_len, auto_threshold):
        a = orig(members, radius, hex_len, auto_threshold)
        chosen.append(a)
        return a

    monkeypatch.setattr(dedup_ops, "_auto_agree", spy)

    # duplicate-collapsed: 60 ids over 3 distinct signatures
    dup = spark.createDataFrame(
        [(i, ["%016x" % 0, "%016x" % 0xFF, "%016x" % (0xFF << 32)][i % 3])
         for i in range(60)],
        "id: long, sig: string",
    )
    dedup_ops.hex_hamming_pairs(dup, "id", "sig", radius=8, agree="auto").count()
    assert chosen[-1] == 1

    # diverse: 40 random signatures, threshold forced below the count
    rng = random.Random(101)
    sigs = [(i, "%016x" % rng.getrandbits(64)) for i in range(40)]
    div = spark.createDataFrame(sigs, "id: long, sig: string")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup_ops.hex_hamming_pairs(
            div, "id", "sig", radius=8, agree="auto", auto_threshold=10
        ).collect()
    )
    assert chosen[-1] >= 2
    want = sorted(
        (a, b, bin(int(sa, 16) ^ int(sb, 16)).count("1"))
        for (a, sa), (b, sb) in __import__("itertools").combinations(sigs, 2)
        if bin(int(sa, 16) ^ int(sb, 16)).count("1") <= 8
    )
    assert got == want


def test_frame_dhash_widen_shift_fixes_degenerate_signatures(spark):
    """The 1-row-frame degeneracy fix as a PUBLIC operator option
    (round 10): with all-constant 1-pixel-tall frames every dHash is
    identical, so unrelated videos pair by chance; frame_dhash's
    widen_shift joins a coarse luminance bucket into the ``sig``
    column and separates them, while a +2-per-pixel re-encoded twin
    still pairs at widen_shift=7 (bucket spans 128 pix_sum units ≫
    width 16 · Δ2 = 32) even though two of its frames straddle a
    bucket boundary — containment scoring absorbs the quantization."""
    import random

    from tiki_e_commerce_analytics_etl_spark.operators import isobmff
    from tiki_e_commerce_analytics_etl_spark.operators import multimodal as mm

    rng = random.Random(5)
    # constant-brightness frames: dHash degenerates to one value
    frames_a = [bytes([60 + i]) * 16 for i in range(4)]
    frames_b = [bytes([v + 2 for v in fr]) for fr in frames_a]  # re-encode
    frames_d = [bytes([180 + i]) * 16 for i in range(4)]  # unrelated
    vids = {1: frames_a, 2: frames_b, 4: frames_d}
    media = spark.createDataFrame(
        [
            (vid, "video", isobmff.mp4_mux(frs, width=16, height=1))
            for vid, frs in vids.items()
        ],
        "media_id: long, media_type: string, payload: binary",
    )
    frames = mm.frame_sample(media, every_ms=40, sampler=isobmff.mp4_frame_sampler)

    # without widening, the unrelated video pairs by chance
    naked = {
        (r["id_a"], r["id_b"])
        for r in dedup_ops.frame_signature_pairs(
            mm.frame_dhash(frames), min_containment_ppm=500_000
        ).collect()
    }
    assert (1, 4) in naked

    widened = mm.frame_dhash(frames, widen_shift=7)
    assert "sig" in widened.columns
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in dedup_ops.frame_signature_pairs(
            widened.select("media_id", "frame_idx", "sig"),
            hash_col="sig",
            min_containment_ppm=500_000,
        ).collect()
    }
    assert (1, 4) not in pairs and (2, 4) not in pairs
    assert pairs[(1, 2)]["containment_ppm"] == 1_000_000

    with pytest.raises(ValueError):
        mm.frame_dhash(frames, widen_shift=-1)


def test_capped_substring_pairs_subset_law(spark):
    """max_doc_freq capping can only REMOVE evidence: on a planted
    corpus with one boilerplate window hot across all docs plus true
    pairwise duplication, the capped pair set is a subset of the
    uncapped one, per-pair shared_windows/max_run_words never exceed
    the uncapped values, and the boilerplate-only pair disappears
    while the sub-cap evidence survives.  (The registered corpus
    query exact_substring_pairs_capped pins the same law against the
    DuckDB oracle at max_doc_freq=2.)"""
    boiler = "all rights reserved by the example corporation worldwide"
    dup = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"{dup} intro {boiler}"),
            (2, f"{dup} outro {boiler}"),
            (3, f"unrelated body text here {boiler} trailing words"),
            (4, f"other unrelated material {boiler} and more filler"),
        ],
        "doc_id: long, text: string",
    )

    def rows(df):
        return {
            (r["id_a"], r["id_b"]): (r["shared_windows"], r["max_run_words"])
            for r in df.collect()
        }

    uncapped = rows(dedup_ops.exact_substring_pairs(docs, min_words=6))
    capped = rows(
        dedup_ops.exact_substring_pairs(docs, min_words=6, max_doc_freq=2)
    )
    assert set(capped) < set(uncapped)  # strictly smaller here
    for pair, (sw, run) in capped.items():
        usw, urun = uncapped[pair]
        assert sw <= usw and run <= urun
    # boilerplate-only pairs (3,4 etc.) vanish; the true dup survives
    assert (3, 4) in uncapped and (3, 4) not in capped
    assert (1, 2) in capped and capped[(1, 2)][1] >= 9


def test_verified_windows_carry_window_strings(spark):
    """The verified-match relation carries the window STRING (__win),
    so shared_windows counts distinct strings — an xxhash64 collision
    between two genuinely-shared distinct windows can no longer merge
    them into one count."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "alpha beta gamma delta epsilon zeta theta"),
        ],
        "doc_id: long, text: string",
    )
    _tok, verified = dedup_ops._verified_window_matches(docs, "text", "doc_id", 3)
    rows = verified.collect()
    assert rows, "expected verified window matches"
    for r in rows:
        assert r["__win"].count(" ") == 2  # k words -> k-1 spaces
    # distinct strings == distinct (off_a windows actually shared)
    wins = {r["__win"] for r in rows}
    assert "alpha beta gamma" in wins and "delta epsilon zeta" in wins
    pairs = dedup_ops.exact_substring_pairs(docs, min_words=3)
    row = pairs.collect()[0]
    # shared 6-word prefix => 4 distinct 3-word windows, run of 6
    assert (row["shared_windows"], row["max_run_words"]) == (4, 6)
