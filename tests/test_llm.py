"""§5.2(5): property/fixture tests for rows-only operators — planted
near-duplicates for MinHash-LSH, recall for the ANN path, rsd bound for
approximate distinct, numpy reference for the pandas UDAF."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lstore_spark.catalog import load_table
from lstore_spark.llm.dedup import minhash_signatures, _MINHASH_K
from lstore_spark.registry import QUERIES


def test_minhash_detects_planted_near_duplicates(spark, sf_dir):
    """Plant 3 near-duplicates (small token edits of real docs) and assert
    the full LSH pipeline surfaces them as high-estimated-Jaccard mates."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    base = docs.select("doc_id", "text").collect()
    planted = []
    for i, row in enumerate(base[:3]):
        words = row.text.split()
        words[len(words) // 2] = "PLANTEDEDIT"
        planted.append((10_000 + row.doc_id, " ".join(words)))
    aug = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(planted, ["doc_id", "text"]))

    sig = minhash_signatures(aug)
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("mhs").alias("mhs_a"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("mhs").alias("mhs_b"))
    agree = F.expr(
        "size(filter(zip_with(mhs_a, mhs_b, (x, y) -> x = y), v -> v))")
    pairs = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     (agree / float(_MINHASH_K)).alias("est_j")))
    found = {
        (r.id_a, r.id_b)
        for r in pairs.filter(F.col("est_j") >= 0.5).collect()
    }
    for pid, _ in planted:
        orig = pid - 10_000
        assert (orig, pid) in found, f"planted dup ({orig},{pid}) not detected"


def test_short_docs_do_not_crash(spark):
    """ANSI-mode regression: 0/1/2-token docs must flow through the
    bigram/shingle/minhash builders without INVALID_ARRAY_INDEX errors
    (sequence(1,0) descends and element_at throws past the end)."""
    from pyspark.sql import functions as F
    from lstore_spark.llm.dedup import minhash_signatures
    from lstore_spark.llm.text import (
        _SPARK_BIGRAMS_TS, _SPARK_SHINGLES3_TS, tokens_col)

    docs = spark.createDataFrame(
        [(1, "single"), (2, "two tokens"), (3, " "), (4, "a b c d")],
        ["doc_id", "text"])
    toks = docs.select("doc_id", tokens_col().alias("ts"))
    bigrams = toks.select(
        "doc_id", F.explode_outer(F.expr(_SPARK_BIGRAMS_TS)).alias("bg")).collect()
    shingles = toks.select(
        "doc_id", F.explode_outer(F.expr(_SPARK_SHINGLES3_TS)).alias("sh")).collect()
    assert {r.doc_id for r in bigrams if r.bg} == {2, 4}
    assert {r.doc_id for r in shingles if r.sh} == {4}
    sigs = minhash_signatures(docs).collect()
    assert len(sigs) == 4  # every doc gets a signature, even degenerate ones


def test_null_text_and_source_rows_flow_through(spark, tmp_path):
    """review r11: NULL text/source rows crashed or silently diverged
    several keys.  A fixture with planted NULLs must (a) not crash any
    of the touched keys, and (b) honor the agreed contracts: no media →
    no multimodal/frame rows; NULL-text docs stay IN the cascade
    (grouped together); NULL source lands in no langdist bucket; the
    UDTF/flatMap emit no tokens for NULL text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import QUERIES

    rows = [(i, f"document {i} with some words here", "en", "src0")
            for i in range(20)]
    rows += [(100, None, "en", "src0"), (101, None, None, None),
             (102, "has text but null source", "en", None)]
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": pa.array([len(r[1] or "") for r in rows], pa.int64()),
    }), str(fx / "documents.parquet"))

    mm = QUERIES["q_llm_multimodal_features"](spark, str(fx)).collect()
    assert {r.doc_id for r in mm} == set(range(20)) | {102}, \
        "no-media docs must emit no features row"
    fr = QUERIES["q_llm_multimodal_framesample"](spark, str(fx)).collect()
    assert not any(r.doc_id in (100, 101) for r in fr), \
        "NULL text fabricated frames"
    casc = QUERIES["q_llm_filter_cascade"](spark, str(fx)).collect()
    n0 = next(r.n_in for r in casc if r.stage == "min_length")
    assert n0 == 23, "NULL-text docs dropped from the cascade"
    piv = {r.lang: r for r in
           QUERIES["q_llm_langdist_pivot"](spark, str(fx)).collect()}
    assert piv["en"].other == 0, "NULL source counted as 'other'"
    toks = QUERIES["q_udtf_flatmap"](spark, str(fx)).collect()
    assert not any(r.doc_id in (100, 101) for r in toks)
    # ADVICE r11: the exact-collapse stage of dedup clustering hashed
    # NULL text to NULL and the equi-join on the hash dropped those
    # docs from the labeling entirely.  With the sentinel they stay in,
    # collapse to ONE representative (NULL texts are exact duplicates
    # of each other), and share a cluster.
    clus = {r.doc_id: r.cluster_id
            for r in QUERIES["q_llm_dedup_clusters"](spark, str(fx)).collect()}
    assert set(clus) == set(range(20)) | {100, 101, 102}, \
        "dedup_clusters must label every doc, including NULL text"
    assert clus[100] == clus[101], "NULL-text docs must share a cluster"


def test_zero_norm_vector_cosine_is_null_not_nan(spark):
    """review r11: a zero-norm vector made all_pairs_cosine_udf emit
    NaN, which Spark ranks ABOVE every real candidate — the zero vector
    would have been rank 1 for every query.  The contract now matches
    DuckDB's x/0.0: NULL, which sorts last under DESC in both engines."""
    import math

    from lstore_spark.llm.similarity import all_pairs_cosine_udf

    targets = [[1.0] + [0.0] * 63, [0.0] * 64]  # one real, one zero
    fn = all_pairs_cosine_udf(targets)
    df = spark.createDataFrame(
        [(1, [1.0] + [0.0] * 63), (2, [0.0] * 64)],
        "vec_id long, embedding array<double>")
    rows = {r.vec_id: r.c for r in
            df.select("vec_id", fn("embedding").alias("c")).collect()}
    # real query vs real target: cos=1; vs zero target: NULL
    assert rows[1][0] == 1.0 and rows[1][1] is None
    # zero query: NULL against everything (never NaN)
    assert rows[2] == [None, None]
    for arr in rows.values():
        assert not any(isinstance(x, float) and math.isnan(x)
                       for x in arr if x is not None)


def test_dedup_clusters_wide_exact_group_survives_bucket_cap(spark,
                                                             tmp_path):
    """review r11: an exact-dup group WIDER than the LSH hot-bucket cap
    (64) used to land every band in a dropped bucket and come back as
    100 singletons.  The exact-collapse stage must return the whole
    group as ONE cluster headed by its min doc_id — and distinct docs
    must stay singletons."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import QUERIES

    text = ("boilerplate license header repeated verbatim across the "
            "corpus " + "tok " * 40).strip()
    rows = [(i, text) for i in range(100)]  # 100-wide exact group
    rows += [(200 + i, f"unique document number {i} with words "
              + " ".join(f"w{i}x{j}" for j in range(30)))
             for i in range(5)]
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": ["en"] * len(rows),
        "source": ["t"] * len(rows),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }), str(fx / "documents.parquet"))
    got = {r.doc_id: (r.cluster_id, r.is_cluster_head)
           for r in QUERIES["q_llm_dedup_clusters"](spark, str(fx)).collect()}
    assert len(got) == 105, "docs dropped or duplicated"
    for i in range(100):
        assert got[i] == (0, i == 0), f"doc {i}: {got[i]}"
    for i in range(5):
        assert got[200 + i] == (200 + i, True), f"doc {200+i}: {got[200+i]}"


def test_dedup_clusters_transitive(spark):
    """A~B and B~C (but never A~C directly) must land in one cluster —
    the transitivity that pairwise dedup misses."""
    from lstore_spark.llm.dedup import dedup_clusters
    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], ["id_a", "id_b"])  # chain 1-3-5; pair 2-6
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, pairs).collect()}
    assert got[1] == got[3] == got[5] == 1
    assert got[2] == got[6] == 2
    assert got[0] == 0 and got[4] == 4 and got[7] == 7


def test_dedup_clusters_end_to_end(spark, sf_dir):
    from lstore_spark.registry import QUERIES
    out = QUERIES["q_llm_dedup_clusters"](spark, sf_dir)
    rows = out.collect()
    n_docs = len(rows)
    assert n_docs > 0
    # every cluster head is its own minimum; members point at a head
    heads = {r.doc_id for r in rows if r.is_cluster_head}
    for r in rows:
        assert r.cluster_id <= r.doc_id
        assert r.cluster_id in heads


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH candidate generation must recover a reasonable fraction of the
    true top-5 neighbor pairs (random unit vectors are the hardest case —
    recall just needs to beat 'no signal')."""
    exact = {(r.query_id, r.cand_id)
             for r in QUERIES["q_llm_sim_cosine_topk"](spark, sf_dir).collect()
             if r.rank <= 3}
    lsh = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b))
           for r in QUERIES["q_llm_sim_lsh_topk"](spark, sf_dir).collect()}
    exact_norm = {(min(a, b), max(a, b)) for a, b in exact}
    recall = len(exact_norm & lsh) / max(len(exact_norm), 1)
    assert recall >= 0.2, f"LSH recall {recall:.2f} below floor"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF probe search (nprobe=3 of 10 lists) must beat the blind-sampling
    baseline (nprobe/n_lists = 0.30): the fixture's vectors are near-random
    (labels carry no cluster signal — measured 0.44 recall), so this floor
    checks that nearest-centroid routing adds signal even in the hardest
    case; clustered production embeddings recall far higher."""
    exact = {(r.query_id, r.cand_id)
             for r in QUERIES["q_llm_sim_cosine_topk"](spark, sf_dir).collect()}
    ivf = {(r.query_id, r.cand_id)
           for r in QUERIES["q_llm_sim_ivf_topk"](spark, sf_dir).collect()}
    recall = len(exact & ivf) / max(len(exact), 1)
    assert recall >= 0.35, f"IVF recall {recall:.2f} below floor"
    # every IVF hit must carry the true cosine (exact re-rank inside lists)
    assert all(-1.0 <= r.cos_sim <= 1.0 and 1 <= r.rank <= 5
               for r in QUERIES["q_llm_sim_ivf_topk"](spark, sf_dir).collect())


def test_approx_distinct_within_rsd(spark, sf_dir):
    rows = QUERIES["q_agg_approx_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        rel_err = abs(r.approx_users - r.exact_users) / max(r.exact_users, 1)
        assert rel_err <= 0.10, f"{r.event_type}: rel err {rel_err:.3f}"
    # Native HLL++ (the 100 TB sketch) stays exercised here even though
    # the registry key uses the portable linear-counting sketch.
    from pyspark.sql import functions as F
    from lstore_spark.catalog import load_table
    hll = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
        F.countDistinct("user_id").alias("exact")).collect()
    for r in hll:
        assert abs(r.hll - r.exact) / max(r.exact, 1) <= 0.10


def test_trimmed_mean_matches_numpy(spark, sf_dir):
    got = {r.event_type: r.trimmed_mean_value
           for r in QUERIES["q_udaf_pandas_grouped_agg"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").toPandas()
    for et, grp in ev.groupby("event_type"):
        s = np.sort(grp["value"].to_numpy())
        k = int(len(s) * 0.1)
        expect = float(s[k: len(s) - k].mean()) if len(s) > 2 * k else float(s.mean())
        assert got[et] == pytest.approx(expect, abs=1e-6)


def test_multimodal_features_deterministic(spark, sf_dir):
    from lstore_spark.llm.multimodal import _blob_len

    a = QUERIES["q_llm_multimodal_features"](spark, sf_dir).collect()
    b = QUERIES["q_llm_multimodal_features"](spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a[:10]:
        assert r.format in {"png", "bmp", "gif"}
        assert 8 <= r.width < 40 and 8 <= r.height < 40
        # n_bytes is the real container size, not a fixed stand-in
        assert r.n_bytes == _blob_len(r.format, r.width, r.height)


def test_multimodal_containers_are_real_and_parse_back():
    """VERDICT r11 #2: the decode step must measure something a third
    party could verify from the blob bytes.  Round-trip every (format,
    w, h) corner through synth → parse, and independently validate the
    containers: PNG chunks CRC-check and the zlib scanlines decompress
    to exactly (3w+1)·h bytes; BMP's declared file size and pixel-array
    offset match the bytes; GIF's logical screen matches."""
    import struct
    import zlib

    from lstore_spark.llm.multimodal import (
        _blob_len, _make_bmp, _make_gif, _make_png, decode_image_header,
        synth_media)

    for w, h in [(8, 8), (8, 39), (39, 8), (39, 39), (17, 23)]:
        for fmt, make in (("png", _make_png), ("bmp", _make_bmp),
                          ("gif", _make_gif)):
            blob = make(w, h)
            assert decode_image_header(blob) == (fmt, w, h)
            assert len(blob) == _blob_len(fmt, w, h)
        png = _make_png(w, h)
        # independent PNG validation: walk chunks, CRC each, inflate
        pos, chunks = 8, {}
        while pos < len(png):
            (ln,) = struct.unpack(">I", png[pos:pos + 4])
            tag = png[pos + 4:pos + 8]
            data = png[pos + 8:pos + 8 + ln]
            (crc,) = struct.unpack(">I", png[pos + 8 + ln:pos + 12 + ln])
            assert crc == zlib.crc32(tag + data), f"bad CRC on {tag}"
            chunks[tag] = data
            pos += 12 + ln
        assert list(chunks) == [b"IHDR", b"IDAT", b"IEND"]
        assert len(zlib.decompress(chunks[b"IDAT"])) == (3 * w + 1) * h
        bmp = _make_bmp(w, h)
        size, _, _, off = struct.unpack("<IHHI", bmp[2:14])
        assert size == len(bmp) and off == 54
        assert len(bmp) - off == (3 * w + 3) // 4 * 4 * h
        gif = _make_gif(w, h)
        assert gif[:6] == b"GIF89a" and gif[-1:] == b"\x3b"
    # seed-derived synthesis is deterministic and parseable
    seed = bytes(range(16))
    assert synth_media(seed) == synth_media(seed)
    fmt, w, h = decode_image_header(synth_media(seed))
    assert fmt == ("png", "bmp", "gif")[seed[0] % 3]
    assert w == 8 + seed[1] % 32 and h == 8 + seed[2] % 32
    # corrupt corpus fails loudly, never silent garbage rows
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown media container"):
        decode_image_header(b"\xff\xd8\xff\xe0 not handled here")


def test_video_container_is_real_and_parses_back():
    """VERDICT r12 #2: the framesample "video" must be a spec-valid
    container the sampler genuinely parses.  Round-trip arbitrary frame
    payloads through synth_video → walk_gif_frames, exercise the LZW
    codec on general inputs (width growth past 9 bits, the re-CLEAR at
    table-full, all byte values), verify the walker skips extensions it
    has never seen, and check corrupt containers fail loudly."""
    import hashlib
    import random
    import struct

    import pytest as _pt

    from lstore_spark.llm.multimodal import (
        _gif_subblocks, _lzw_decode, _lzw_encode_literals, synth_video,
        walk_gif_frames)

    # LZW round-trip: small / all-bytes / long-enough to grow code
    # width to 12 bits and force a mid-stream CLEAR reset
    rnd = random.Random(13)
    for px in (b"\x00" * 16, bytes(range(256)),
               bytes(rnd.randrange(256) for _ in range(10000))):
        assert _lzw_decode(_lzw_encode_literals(px, 8), 8) == px
    # a general LZW stream (real compression codes, KwKwK case) decodes
    # too: decoder is not a lookup keyed to our literal-only encoder
    #   CLEAR, 'a'(97), 258='aa' (KwKwK: code == len(table)), EOI
    clear, eoi = 256, 257
    codes, width = [clear, 97, 258, eoi], 9
    cur = nbits = 0
    packed = bytearray()
    for c in codes:
        cur |= c << nbits
        nbits += width
        while nbits >= 8:
            packed.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8
    if nbits:
        packed.append(cur & 0xFF)
    assert _lzw_decode(bytes(packed), 8) == b"aaa"

    # container round-trip with assorted payloads
    frames = [hashlib.md5(f"{k}:probe".encode()).digest() for k in range(4)]
    blob = synth_video(frames)
    assert list(walk_gif_frames(blob)) == frames
    # spec fields a third party would read: magic, LSD, GCT flag,
    # per-frame image descriptors, trailer
    assert blob[:6] == b"GIF89a" and blob[-1:] == b"\x3b"
    w, h, packed_f, _, _ = struct.unpack("<HHBBB", blob[6:13])
    assert (w, h) == (16, 1) and packed_f & 0x80 and (packed_f & 7) == 7
    assert blob.count(b"\x21\xf9\x04") == 4          # one GCE per frame
    assert b"NETSCAPE2.0" in blob                    # loop extension
    # the walker skips extension types it has never seen (e.g. a
    # multi-sub-block comment spliced in after the header)
    comment = b"\x21\xfe" + _gif_subblocks(b"x" * 600)
    gct_end = 13 + 3 * 256
    spliced = blob[:gct_end] + comment + blob[gct_end:]
    assert list(walk_gif_frames(spliced)) == frames
    # corrupt corpus fails loudly, never silent garbage rows
    with _pt.raises(ValueError, match="not a GIF container"):
        list(walk_gif_frames(b"RIFF....AVI LIST"))
    with _pt.raises(ValueError, match="bad GIF block introducer"):
        list(walk_gif_frames(blob[:gct_end] + b"\x7f" + blob[gct_end:]))
    # truncated LZW stream (frame shorter than its descriptor) is loud
    short = synth_video([b"\x01\x02"])  # 2 px for a 16x1 descriptor
    with _pt.raises(ValueError, match="decoded 2 px"):
        list(walk_gif_frames(short))


def test_exact_dedup_keeps_min_doc_id(spark, sf_dir):
    out = QUERIES["q_llm_dedup_exact"](spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    kept = out.agg(F.sum("n_copies")).collect()[0][0]
    assert kept == n_docs  # every doc accounted for exactly once
    # the KEPT id must be the group MINIMUM, not any member (review
    # r11: the old sum-only assertion passed under keep-max too) —
    # recompute the expected min per normalized-text hash independently
    docs = load_table(spark, sf_dir, "documents")
    expect = {(r.h, r.m) for r in
              docs.groupBy(F.md5(F.lower(F.trim("text"))).alias("h"))
                  .agg(F.min("doc_id").alias("m")).collect()}
    got = {(r.text_hash, r.doc_id) for r in out.collect()}
    assert got == expect, "kept doc_id is not the per-group minimum"


def test_oracle_range_caps_cover_corpus(duck):
    """ADVICE r1: several DuckDB oracles bound token positions with
    constant range() tables — range(1, 256) shingle/ngram/UDTF positions
    (truncates past 257 tokens) and range(0, 64) chunk ids (truncates
    past 1 + 64·24 tokens).  The Spark implementations are unbounded, so
    a longer document would make the oracle silently diverge.  Fail
    loudly here instead: the corpus under test must stay below the caps.
    """
    from lstore_spark.llm.text import _DUCK_TOKENS

    mx = duck.execute(
        f"SELECT max(len({_DUCK_TOKENS})) FROM documents").fetchone()[0]
    assert mx <= 255, (
        f"max doc token count {mx} exceeds the range(1, 256) oracle cap — "
        "raise the caps in dedup/text/udfs oracles")
    # NOTE the chunk-id cap range(0, 64) binds only past 1 + 64·24 =
    # 1537 tokens, which the 255 assertion above already excludes by a
    # 6× margin — if that cap is ever RAISED past 1537, add an explicit
    # chunk-cap assertion here (a second `mx <= 1537` line would be
    # dead code today and was removed as such in review r11).


def test_kmeans_invariants(spark, sf_dir):
    """q_llm_emb_kmeans: deterministic fixpoint clustering — two runs
    agree row-for-row, every vector is assigned, and the seeded k=8
    splits into more than one non-empty cluster."""
    from lstore_spark.registry import QUERIES
    a = {r["vec_id"]: r["cluster"]
         for r in QUERIES["q_llm_emb_kmeans"](spark, sf_dir).collect()}
    b = {r["vec_id"]: r["cluster"]
         for r in QUERIES["q_llm_emb_kmeans"](spark, sf_dir).collect()}
    assert a == b, "k-means assignment is not deterministic"
    assert len(a) == 500
    clusters = set(a.values())
    assert 1 < len(clusters) <= 8
    assert clusters <= set(range(8))


def test_lsh_hot_bucket_cap_bounds_candidates(spark, sf_dir):
    """VERDICT r5 #2: plant a 1000-doc boilerplate mega-bucket (identical
    templated text → all docs share every band bucket) and assert the
    hot-bucket cap keeps the candidate count O(B·n) instead of the
    ~499,500-pair O(n²) blowup — while a genuine planted near-dup among
    normal docs is still detected."""
    from lstore_spark.llm.dedup import lsh_candidate_pairs, minhash_signatures

    docs = load_table(spark, sf_dir, "documents").limit(40)
    base = docs.select("doc_id", "text").collect()
    words = base[0].text.split()
    words[len(words) // 2] = "PLANTEDEDIT"
    boiler_text = ("all rights reserved this page was generated from the "
                   "standard site template v2 do not edit by hand " * 3)
    rows = [(10_000 + base[0].doc_id, " ".join(words))] + [
        (100_000 + i, boiler_text) for i in range(1000)]
    aug = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(rows, ["doc_id", "text"]))
    sig = minhash_signatures(aug).localCheckpoint()

    n_docs = 40 + 1 + 1000
    cap = 64
    capped = lsh_candidate_pairs(sig, max_bucket_width=cap)
    n_capped = capped.count()
    assert n_capped <= cap * n_docs, (
        f"{n_capped} candidates breaks the O(B*n) cap contract")
    # the mega-bucket contributes ZERO pairs (width 1000 > cap)
    assert capped.filter((F.col("id_a") >= 100_000)
                         & (F.col("id_b") >= 100_000)).count() == 0
    # the genuine near-dup among normal docs still surfaces
    found = {(r.id_a, r.id_b)
             for r in capped.filter(F.col("est_jaccard") >= 0.5).collect()}
    assert (base[0].doc_id, 10_000 + base[0].doc_id) in found
    # and the cap is load-bearing: uncapped, the same corpus emits the
    # quadratic bucket (999*1000/2 pairs from the boilerplate alone)
    n_uncapped = lsh_candidate_pairs(sig, max_bucket_width=None).count()
    assert n_uncapped >= 999 * 1000 // 2
    assert n_capped < n_uncapped // 100


def test_editdist_over_lsh_candidates(spark, sf_dir):
    """VERDICT r4 item 5: the exact Levenshtein verifier consumes a
    candidate-pair DataFrame — wire LSH candidates (with a planted
    near-dup) straight into pairwise_editdist and assert the planted
    pair re-ranks to the top with near-1 similarity."""
    from lstore_spark.llm.dedup import lsh_candidate_pairs, pairwise_editdist

    docs = load_table(spark, sf_dir, "documents").limit(50)
    base = docs.select("doc_id", "text").collect()
    words = base[0].text.split()
    words[len(words) // 2] = "PLANTEDEDIT"
    aug = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame([(10_000 + base[0].doc_id, " ".join(words))],
                              ["doc_id", "text"]))

    cands = lsh_candidate_pairs(minhash_signatures(aug))
    n_cands = cands.count()
    ranked = pairwise_editdist(aug, cands, prefix_len=80)
    assert ranked.count() == n_cands, "one exact score per candidate pair"
    top = ranked.orderBy(F.desc("edit_sim")).first()
    assert top is not None
    assert (top.id_a, top.id_b) == (base[0].doc_id, 10_000 + base[0].doc_id)
    assert top.edit_sim > 0.8


def test_semantic_dedup_drops_planted_twins(spark, sf_dir, tmp_path):
    """SemDeDup property: a vector with an identical earlier twin
    (cos = 1.0 ≥ τ, same cluster by construction) must come back
    keep=false, and its original must survive.  Runs the REGISTERED
    query against a synthetic sf_dir whose embeddings table is the
    fixture plus 5 planted twins — exercising load→assign→pair→verdict
    end-to-end, not a helper in isolation.  Twin ids sit at +1000 so
    they stay inside the registered query's oracle-feasibility slice
    (vec_id < 2000)."""
    em = load_table(spark, sf_dir, "embeddings")
    twins = (em.orderBy("vec_id").limit(5)
             .select((F.col("vec_id") + 1_000).alias("vec_id"),
                     "embedding", "label"))
    aug_dir = str(tmp_path / "sfsem")
    em.unionByName(twins).coalesce(1).write.mode("overwrite") \
      .parquet(f"{aug_dir}/embeddings.parquet")

    res = QUERIES["q_llm_dedup_semantic"](spark, aug_dir)
    verdict = {r["vec_id"]: r["keep"] for r in res.collect()}
    originals = [r["vec_id"] for r in
                 em.orderBy("vec_id").limit(5).select("vec_id").collect()]
    for ov in originals:
        assert verdict[ov + 1_000] is False, f"twin of {ov} kept"
        assert verdict[ov] is True, f"original {ov} dropped"


def test_semantic_dedup_hierarchical_drops_identical_twins(spark, sf_dir):
    """The IVF-routed assignment (nprobe=1) may shift borderline cluster
    members, but identical vectors ALWAYS route identically — so the
    SemDeDup guarantee that an exact twin is dropped survives the
    hierarchical speedup."""
    from lstore_spark.llm.dedup import semantic_dedup

    em = load_table(spark, sf_dir, "embeddings")
    twins = (em.orderBy("vec_id").limit(5)
             .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                     "embedding", "label"))
    aug = em.unionByName(twins).select("vec_id", "embedding")
    res = semantic_dedup(aug, n_clusters=63, hierarchical=True)
    verdict = {r["vec_id"]: r["keep"] for r in res.collect()}
    for r in em.orderBy("vec_id").limit(5).select("vec_id").collect():
        assert verdict[r["vec_id"] + 1_000_000] is False


def test_semantic_dedup_cluster_width_cap(spark, sf_dir):
    """The semantic twin of the LSH hot-bucket cap: a degenerate
    mega-cluster (200 planted identical vectors) SKIPS pair generation —
    all its members survive (conservative direction, no quadratic
    blowup) — while a planted twin in a normal-width cluster is still
    dropped."""
    from lstore_spark.llm.dedup import semantic_dedup

    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v0 = em.orderBy("vec_id").limit(1)
    mega = (v0.crossJoin(spark.range(200).select(
        (F.col("id") + 10_000).alias("mega_id")))
        .select(F.col("mega_id").alias("vec_id"), "embedding"))
    twin1 = (em.filter(F.col("vec_id") == 1)
             .select(F.lit(20_000).cast("long").alias("vec_id"), "embedding"))
    aug = em.unionByName(mega).unionByName(twin1)
    res = semantic_dedup(aug, n_clusters=63, max_cluster_width=64)
    verdict = {r["vec_id"]: r["keep"] for r in res.collect()}
    assert all(verdict[10_000 + i] for i in range(200)), "mega member dropped"
    assert verdict[0] is True
    assert verdict[20_000] is False, "normal-cluster twin kept"


def test_hamming_bq_recall_vs_bruteforce(spark, sf_dir):
    """Binary-quantized (1-bit) ranking must carry real angular signal:
    fraction of exact cosine-top-3 pairs recovered inside hamming-top-5
    measured 0.30 on the fixture's random unit vectors (the hardest
    case — blind sampling scores ~0.03); floor at half the measurement.
    Production BQ re-scores the hamming shortlist with exact cosine,
    so recall-of-shortlist is the right metric."""
    exact = {(r.query_id, r.cand_id)
             for r in QUERIES["q_llm_sim_cosine_topk"](spark, sf_dir).collect()
             if r.rank <= 3}
    ham = {(r.query_id, r.cand_id)
           for r in QUERIES["q_llm_sim_hamming_topk"](spark, sf_dir).collect()}
    recall = len(exact & ham) / max(len(exact), 1)
    assert recall >= 0.15, f"BQ recall {recall:.2f} below floor"


def test_corpus_shard_balanced_and_stable(spark, sf_dir):
    """Shard assignment must be (a) roughly balanced — no shard holding
    more than 3× the mean at fixture scale — and (b) bit-stable across
    recomputation (the retry-safety property sharding exists for)."""
    a = QUERIES["q_llm_corpus_shard"](spark, sf_dir).collect()
    b = QUERIES["q_llm_corpus_shard"](spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from collections import Counter
    widths = Counter(r["shard"] for r in a)
    mean = sum(widths.values()) / len(widths)
    assert len(widths) == 16
    assert max(widths.values()) <= 3 * mean


def test_substring_dedup_hashed_keys_equal_raw(spark, sf_dir):
    """VERDICT r6 #5: the production hashed-span-key shape must produce
    the exact output of the raw-string-keyed oracle exhibit, at both
    the fixture width (8) and the Lee-et-al production width (50), and
    regardless of the broadcast-vs-shuffle survivor join."""
    from lstore_spark.catalog import load_table
    from lstore_spark.llm.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    by_w = {}
    for w in (8, 50):
        raw = substring_dedup(docs, w=w, hashed_keys=False)
        hashed = substring_dedup(docs, w=w, hashed_keys=True)
        a = sorted(map(tuple, raw.collect()))
        by_w[w] = sorted(map(tuple, hashed.collect()))
        assert a == by_w[w], f"w={w}: hashed-key output diverges from raw"
        assert len(a) > 0, f"w={w}: no duplicated spans in fixture"
    smj = substring_dedup(docs, w=8, hashed_keys=True,
                          broadcast_survivors=False)
    assert sorted(map(tuple, smj.collect())) == by_w[8]


def test_substring_dedup_span_runs_equal_two_exchange(spark, sf_dir):
    """r14 (VERDICT r13 #3): the single-exchange span-runs form —
    per-doc sort + run-length dedup BEFORE the explode — must produce
    the exact output of the two-exchange distinct-aggregate form, at
    the fixture width AND on planted degenerates (empty text, <w-token
    docs, NULL text, in-doc repeated spans, multi-doc shared spans),
    and its plan must carry exactly ONE shuffle exchange."""
    from lstore_spark.catalog import load_table
    from lstore_spark.llm.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    raw = substring_dedup(docs, w=8, hashed_keys=False, span_runs=False)
    runs = substring_dedup(docs, w=8, hashed_keys=False, span_runs=True)
    a = sorted(map(tuple, raw.collect()))
    assert a == sorted(map(tuple, runs.collect()))
    assert len(a) > 0

    rep = "x y " * 6          # in-doc repeat: spans recur WITHIN a doc
    uni = ("żółć 日本語 🎉 mixé " * 3).strip()  # multibyte UTF-8 tokens
    planted = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),     # 3 spans, shared with doc 2
         (2, "a b c d e f g h i j"),
         (3, rep + rep),                 # heavy in-doc multiplicity
         (4, rep + rep),
         (5, "short doc"),               # < w tokens → no spans
         (6, ""), (7, None),             # empty / NULL text
         (8, "  pad   " + uni + "  "),   # multi-space runs + multibyte
         (9, "  pad   " + uni + "  ")],
        "doc_id long, text string")
    p_raw = substring_dedup(planted, w=8, hashed_keys=False,
                            span_runs=False)
    p_runs = substring_dedup(planted, w=8, hashed_keys=False,
                             span_runs=True)
    pa = sorted(map(tuple, p_raw.collect()))
    assert pa == sorted(map(tuple, p_runs.collect()))
    assert any(r[2] > r[1] for r in pa), "planted in-doc repeats missing"

    # the multibyte/multi-space planted docs above also pin the
    # spread_documents path (spread is a row-count no-op at fixture
    # scale, so the plan-shape assert below still sees ONE exchange)

    # fresh (unexecuted) frame: a collected AQE frame's plan string
    # prints initial+final sections and double-counts the exchange
    fresh = substring_dedup(docs, w=8, hashed_keys=False, span_runs=True)
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_substring_dedup_pass1_shuffles_no_text(spark, sf_dir):
    """The point of the hashed shape: no raw span string may appear in
    pass 1's exchange — only the 16-byte hash and doc_id go over the
    wire; span text is confined to the survivor-joined second pass."""
    from lstore_spark.catalog import load_table
    from lstore_spark.llm.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = substring_dedup(docs, w=50, hashed_keys=True)._jdf \
        .queryExecution().executedPlan().toString()
    # the count aggregate must be keyed on the md5, not the span
    agg_lines = [ln for ln in plan.splitlines()
                 if "count(distinct doc_id" in ln]
    assert agg_lines and all("span" not in ln for ln in agg_lines), plan


def test_quantile_sketch_error_bounded_by_bucket_width(spark, sf_dir):
    """The histogram sketch's estimate must sit within one bucket width
    of the exact quantile (mid-bucket interpolation error ≤ range/256;
    allow exactly that bound) — the deterministic analog of a t-digest
    accuracy test."""
    from pyspark.sql import functions as F

    from lstore_spark.catalog import load_table
    from lstore_spark.registry import QUERIES

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    width = (hi - lo) / 256.0
    exact = ev.agg(*[
        F.expr(f"percentile(value, {q})").alias(f"p{int(q * 100)}")
        for q in (0.5, 0.9, 0.99)]).first()
    got = {round(r.q, 2): r.est for r in
           QUERIES["q_agg_quantile_sketch"](spark, sf_dir).collect()}
    for q, ex in [(0.5, exact.p50), (0.9, exact.p90), (0.99, exact.p99)]:
        assert abs(got[q] - ex) <= width, (q, got[q], ex, width)


def test_hyperplane_band_rows_tolerates_null_and_ragged_vectors(spark):
    """The vectorized signature UDF must degrade like the old
    NULL-propagating HOF form — emit nothing for NULL / wrong-length
    embeddings — not crash the Python worker (round-7 self-review)."""
    from lstore_spark.llm.similarity import hyperplane_band_rows

    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None), (3, [0.1] * 8), (4, [-0.5] * 64)],
        "vec_id: long, embedding: array<float>")
    rows = hyperplane_band_rows(df, "vec_id", "embedding",
                                bits=4, bands=3).collect()
    assert sorted(set(r.vec_id for r in rows)) == [1, 4]
    assert len(rows) == 6  # 3 bands × 2 valid vectors


def _exact_l2_topk(sf_dir, k=5, within_lists=None):
    """numpy reference: exact squared-L2 top-k per query (vec_id < 10)
    over the corpus (vec_id >= 10), optionally restricted to each
    query's candidate set in ``within_lists`` {query_id: set(list_id)}
    given a {cand_id: list_id} routing (pass (routing, probes))."""
    import pyarrow.parquet as pq
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    V = np.stack(t.embedding.to_numpy()).astype(np.float64)
    ids = t.vec_id.to_numpy()
    qm, cm = ids < 10, ids >= 10
    Q, C, qid, cid = V[qm], V[cm], ids[qm], ids[cm]
    d = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    out = set()
    for qi in range(len(qid)):
        order = sorted(range(len(cid)), key=lambda j: (d[qi, j], cid[j]))
        if within_lists is not None:
            routing, probes = within_lists
            order = [j for j in order
                     if routing[cid[j]] in probes[qid[qi]]]
        out |= {(int(qid[qi]), int(cid[j])) for j in order[:k]}
    return out


def test_ann_index_search_recall_floors(spark, sf_dir):
    """Two-part recall contract for the persisted IVF-SQ8 index:

    (a) re-rank FIDELITY — within the probed lists the SQ8 asymmetric
        distance must recover the exact-L2 top-5 essentially perfectly
        (measured 1.00 at sf0.01; floor 0.9): quantization at 256
        levels/dim cannot reorder real neighbors.
    (b) global recall vs the unrestricted exact search is COVERAGE
        limited: nprobe=3 of 10 lists over this fixture's weakly
        clustered random vectors covers ~0.46 of true neighbors
        (measured; blind sampling would give 0.30 of lists ~ 0.30).
        Floor at 0.3 — the honest IVF trade, not an encoding defect.
    """
    got = {(r.query_id, r.cand_id)
           for r in QUERIES["q_llm_index_search"](spark, sf_dir).collect()}
    exact = _exact_l2_topk(sf_dir)
    assert len(got & exact) / len(exact) >= 0.3, "global recall floor"

    from lstore_spark.llm.ann_index import ann_index_dir, _NPROBE
    import pyarrow.parquet as pq
    idx = ann_index_dir(sf_dir)
    posts = pq.read_table(f"{idx}/postings").to_pandas()
    routing = dict(zip(posts.cand_id.astype(int),
                       posts.list_id.astype(int)))
    cents = pq.read_table(f"{idx}/centroids").to_pandas()
    CV = np.stack(cents.cvec.to_numpy())
    lids = cents.list_id.to_numpy().astype(int)
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    qs = t[t.vec_id < 10]
    probes = {}
    for _, r in qs.iterrows():
        q = np.asarray(r.embedding, dtype=np.float64)
        cos = np.round((CV @ q) / (np.linalg.norm(CV, axis=1)
                                   * np.linalg.norm(q)), 6)
        order = sorted(range(len(lids)), key=lambda j: (-cos[j], lids[j]))
        probes[int(r.vec_id)] = {int(lids[j]) for j in order[:_NPROBE]}
    within = _exact_l2_topk(sf_dir, within_lists=(routing, probes))
    assert len(got & within) / len(within) >= 0.9, "SQ8 fidelity floor"


def test_ann_index_build_is_reused_not_rewritten(spark, sf_dir):
    """A second build invocation must REUSE the stored index (that is
    the point of a persisted artifact — and the anti-leak contract of
    the deterministic dir): the postings' files are untouched."""
    import glob
    import os

    from lstore_spark.llm.ann_index import ann_index_dir, build_ann_index
    build_ann_index(spark, sf_dir)
    idx = ann_index_dir(sf_dir)
    files = sorted(glob.glob(os.path.join(idx, "postings", "**", "*.parquet"),
                             recursive=True))
    assert files
    before = [(f, os.path.getmtime(f)) for f in files]
    QUERIES["q_llm_index_build"](spark, sf_dir).collect()
    after = [(f, os.path.getmtime(f)) for f in files]
    assert before == after


def test_search_lut_memo_replaces_and_degrades_null_queries(spark, sf_dir,
                                                            monkeypatch):
    """review r12 + VERDICT r12 #3 pins: (a) the executor-side LUT memo
    is keyed by query id with the index path as a latest-wins
    signature, so a regenerated fixture (new index path) REPLACES the
    entry instead of accumulating one per generation; (b) a NULL/short
    query embedding is dropped from the closure inputs like every other
    degraded row, never an unrelated numpy crash; (c) the closure
    inputs are tiny plain floats — no Decimal anywhere driver-side."""
    import types

    from lstore_spark.llm import ann_index as ai
    from lstore_spark.llm import similarity as sim

    idx = ai.build_ann_index(spark, sf_dir)
    lo, step, qmap = ai._search_lut_inputs(sf_dir, idx)
    assert all(isinstance(x, float) for x in lo + step)
    qid, qe = next(iter(qmap.items()))
    ai._LUT_CACHE.clear()
    first = ai._query_lut("sigA", qid, qe, lo, step)
    assert ai._query_lut("sigA", qid, qe, lo, step) is first  # memo hit
    assert list(ai._LUT_CACHE) == [qid]
    # a 'regenerated fixture' arrives as a NEW index path (signature):
    # same qid key, new signature — the stale entry is REPLACED, not
    # kept alongside
    second = ai._query_lut("sigB", qid, qe, lo, step)
    assert (second == first).all() and second is not first
    assert len(ai._LUT_CACHE) == 1 and ai._LUT_CACHE[qid][0] == "sigB"
    # NULL / short queries degrade to dropped rows in the closure input
    real = sim.read_query_slice(sf_dir)
    fake = types.SimpleNamespace(
        vec_id=[7, 8, 9], embedding=[None, [1.0, 2.0], list(real.embedding[0])])
    monkeypatch.setattr(sim, "read_query_slice", lambda _sf: fake)
    _, _, qmap2 = ai._search_lut_inputs(sf_dir, idx)
    assert list(qmap2) == [9], "NULL/short queries must drop"
    ai._LUT_CACHE.clear()


def test_bpe_udf_parity_with_reference_and_lossless(spark, sf_dir):
    """The rows-only BPE evidence: (a) the Arrow-batched UDF's per-doc
    token counts equal an INDEPENDENT pure-Python re-tokenization of
    every fixture doc (re-implementing the merge-rule inference here,
    not calling the production encoder's memo path); (b) BPE is
    lossless — concatenating a word's tokens reproduces the word —
    for every distinct word of the corpus; (c) training is
    deterministic: two trainings yield identical merge tables."""
    from lstore_spark.llm.bpe import (bpe_token_counts, corpus_merges,
                                      encode_word, train_bpe)

    docs = load_table(spark, sf_dir, "documents")
    got = {r.doc_id: r.n_tok
           for r in bpe_token_counts(spark, sf_dir, docs).collect()}
    merges = corpus_merges(spark, sf_dir)
    ranks = {p: i for i, p in enumerate(merges)}
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}

    words = set()
    for doc_id, text in texts.items():
        n = 0
        for w in (text or "").split(" "):
            if w:
                words.add(w)
                n += len(encode_word(w, ranks))
        assert got[doc_id] == n, f"doc {doc_id}: {got[doc_id]} != {n}"

    for w in words:
        assert "".join(encode_word(w, ranks)) == w, f"lossy on {w!r}"

    counts = {}
    for t in texts.values():
        for w in (t or "").split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    assert train_bpe(counts) == train_bpe(dict(sorted(counts.items(),
                                                      reverse=True)))


def test_bpe_pack_bins_respect_budget_and_compress(spark, sf_dir):
    """Bin semantics of the BPE packing twin: every bin except possibly
    the last holds > 0 docs, bins partition the corpus in doc_id order,
    and BPE compresses — total BPE tokens < total characters (each
    merge only ever shrinks a word's token count from len(word))."""
    rows = sorted(QUERIES["q_llm_text_pack_bpe"](spark, sf_dir).collect(),
                  key=lambda r: r.bin_id)
    assert rows
    assert [r.bin_id for r in rows] == list(range(len(rows)))
    for prev, cur in zip(rows, rows[1:]):
        assert prev.last_doc < cur.first_doc
    docs = load_table(spark, sf_dir, "documents")
    total_chars = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    assert sum(r.bin_tokens for r in rows) < total_chars
    # coverage + budget (review r11: the old assertions passed even if
    # half the corpus was dropped or bins ran at 10× the budget):
    # every document lands in exactly one bin, and no bin exceeds the
    # budget by more than one straddling document (the floor((cum-1)/B)
    # binning's worst case)
    from lstore_spark.llm.bpe import _PACK_BUDGET, bpe_token_counts
    assert sum(r.n_docs for r in rows) == docs.count(), "docs dropped"
    per_doc = bpe_token_counts(spark, sf_dir, docs)
    max_doc, total_tok = per_doc.agg(
        F.max("n_tok"), F.sum("n_tok")).collect()[0]
    assert sum(r.bin_tokens for r in rows) == total_tok, "tokens dropped"
    for r in rows:
        assert r.bin_tokens <= _PACK_BUDGET + max_doc, (
            f"bin {r.bin_id} holds {r.bin_tokens} tokens vs budget "
            f"{_PACK_BUDGET} (+max doc {max_doc})")


def test_cosine_topk_vectorized_fold_bit_identical_to_hof(spark, sf_dir):
    """The r8 vectorization contract: the PRODUCTION
    all_pairs_cosine_udf (which both the registered cosine key and the
    ANN index router now route through) must reproduce the
    aggregate(zip_with(...)) HOF dot/norm BIT FOR BIT on every (query,
    candidate) pair — elementwise IEEE ops in fold order, no
    BLAS/pairwise reduction.  Checked UNROUNDED (the strongest form;
    the registered key additionally rounds JVM-side), so any
    accumulation-order drift in the shared helper — e.g. someone
    swapping the per-dim loop for a BLAS matmul — fails here before it
    can flake a ROUND-6 boundary in the driver sweep."""
    from lstore_spark.llm.similarity import _norm, all_pairs_cosine_udf

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"), _norm("embedding").alias("qn"))
    c = em.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"), _norm("embedding").alias("cn"))
    hof = F.expr(
        "aggregate(zip_with(q_emb, c_emb, (x, y) -> CAST(x AS DOUBLE) * "
        "CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    want = {(r.query_id, r.cand_id): r.raw
            for r in c.crossJoin(F.broadcast(q))
            .select("query_id", "cand_id",
                    (hof / (F.col("qn") * F.col("cn"))).alias("raw"))
            .collect()}

    import numpy as np
    qrows = sorted(em.filter(F.col("vec_id") < 10)
                   .select("vec_id", "embedding").collect(),
                   key=lambda r: r.vec_id)
    Q = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in qrows])
    qids = [int(r.vec_id) for r in qrows]
    # Drive THE production helper end-to-end through Spark (review r8:
    # a private numpy re-derivation would keep passing if the shared
    # helper drifted).
    cos_all = all_pairs_cosine_udf(Q)
    got_rows = (em.filter(F.col("vec_id") >= 10)
                .select("vec_id", cos_all("embedding").alias("cs"))
                .collect())
    mismatches = [
        (int(r.vec_id), qids[j])
        for r in got_rows for j in range(len(qids))
        if want[(qids[j], r.vec_id)] != r.cs[j]]
    assert not mismatches, f"{len(mismatches)} pairs differ: {mismatches[:5]}"


def test_pq_code_rows_guard_matches_exact_decimal_argmin():
    """Drives the PRODUCTION pq_code_rows (the q_llm_emb_pq_adc core):
    the double-path + gap-guard + decimal-fallback selection must equal
    a brute-force exact-Python-decimal argmin — on random batches AND
    on adversarial constructions (vectors exactly between two codebook
    rows, and coordinates quantized so subspace distances collide at
    the 1e-8 decimal grain, where the double argmin alone would be
    allowed to differ and only the fallback keeps JVM parity)."""
    from decimal import ROUND_HALF_UP, Decimal

    from lstore_spark.llm.embeddings import _PQ_D, _PQ_M, pq_code_rows

    rng = np.random.RandomState(7)
    k, dim = 6, _PQ_M * _PQ_D
    C = rng.randn(k, dim)

    def exact_codes(V):
        q8 = Decimal("1E-8")
        out = np.zeros((len(V), _PQ_M), dtype=np.int32)
        for n in range(len(V)):
            for m in range(_PQ_M):
                best = None
                for c in range(k):
                    s = Decimal(0)
                    for j in range(_PQ_D):
                        t = (V[n, m * _PQ_D + j] - C[c, m * _PQ_D + j]) ** 2
                        s += Decimal(float(t)).quantize(q8, ROUND_HALF_UP)
                    if best is None or (s, c) < best[0]:
                        best = ((s, c), c)
                out[n, m] = best[1]
        return out

    V = rng.randn(64, dim)
    # adversarial rows: exact midpoints of codebook pairs (decimal-equal
    # subspace distances → the (d, label) tie-break decides), plus
    # coarse-grid rows whose distances collide at the decimal grain.
    mids = np.stack([(C[a] + C[b]) / 2.0
                     for a in range(k) for b in range(a + 1, k)])
    grid = np.round(C[rng.randint(0, k, 16)] + rng.randn(16, dim), 4)
    V = np.vstack([V, mids, grid])
    got = pq_code_rows(V, C)
    want = exact_codes(V)
    assert (got == want).all(), (got != want).sum()


def test_ann_index_update_is_incremental_and_frozen(spark, sf_dir):
    """The incremental-update contract: (a) a second invocation rewrites
    NOTHING (base and delta files untouched — idempotent batch job);
    (b) the delta segment holds exactly the batch ids (vec_id >= 400)
    and the base exactly [10, 400) — the base was not re-encoded when
    the batch arrived."""
    import glob
    import os

    from lstore_spark.llm.ann_index import (_UPDATE_SPLIT, ann_base_dir,
                                            update_ann_index)
    update_ann_index(spark, sf_dir)
    base = ann_base_dir(sf_dir)
    files = sorted(glob.glob(os.path.join(base, "**", "*.parquet"),
                             recursive=True))
    assert files
    before = [(f, os.path.getmtime(f)) for f in files]
    out = QUERIES["q_llm_index_update"](spark, sf_dir).collect()
    after = [(f, os.path.getmtime(f)) for f in files]
    assert before == after

    delta_ids = {int(r.cand_id) for r in spark.read.parquet(
        os.path.join(base, "postings_delta")).collect()}
    base_ids = {int(r.cand_id) for r in spark.read.parquet(
        os.path.join(base, "postings")).collect()}
    em_ids = {int(r.vec_id) for r in
              load_table(spark, sf_dir, "embeddings")
              .select("vec_id").collect()}
    assert delta_ids == {i for i in em_ids if i >= _UPDATE_SPLIT}
    assert base_ids == {i for i in em_ids if 10 <= i < _UPDATE_SPLIT}
    assert {r.segment for r in out} == {"base", "delta"}


def test_ann_index_merge_preserves_both_generations(spark, sf_dir):
    """The compaction contract: (a) the merged store holds exactly
    base ∪ delta cand_ids, with the code arrays of a spot-checked row
    from each generation byte-identical to its source segment (the
    frozen quantizer was not re-run); (b) a second invocation rewrites
    nothing (idempotent); (c) the source segments survive the merge
    (generation-style publish — retirement is the vacuum's job)."""
    import glob
    import os

    from lstore_spark.llm.ann_index import (_POSTING_SCHEMA,
                                            _UPDATE_SPLIT, ann_base_dir,
                                            merge_ann_index)
    merged = merge_ann_index(spark, sf_dir)
    base = ann_base_dir(sf_dir)

    m = spark.read.schema(_POSTING_SCHEMA).parquet(merged).collect()
    b = spark.read.parquet(os.path.join(base, "postings")).collect()
    d = spark.read.parquet(os.path.join(base, "postings_delta")).collect()
    assert b and d, "merge exhibit needs both generations populated"
    assert {r.cand_id for r in m} == \
        {r.cand_id for r in b} | {r.cand_id for r in d}
    src = {r.cand_id: (r.list_id, list(r.codes)) for r in b + d}
    got = {r.cand_id: (r.list_id, list(r.codes)) for r in m}
    assert got == src
    assert any(r.cand_id >= _UPDATE_SPLIT for r in m)

    files = sorted(glob.glob(os.path.join(merged, "**", "*.parquet"),
                             recursive=True))
    assert files
    before = [(f, os.path.getmtime(f)) for f in files]
    out = QUERIES["q_llm_index_merge"](spark, sf_dir).collect()
    assert before == [(f, os.path.getmtime(f)) for f in files]
    assert sum(r.n_from_delta for r in out) == len(d)
    assert sum(r.n_postings for r in out) == len(b) + len(d)


def test_ann_index_update_survives_empty_batch(spark, tmp_path):
    """Review r8: a fixture whose max vec_id falls below the update
    split yields an EMPTY delta segment (only _SUCCESS, no parquet
    files); the summary read must come back base-only rather than
    throwing schema-inference errors — and stay gated (no rebuild) on
    the second call."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(int(i), [float(x) for x in rng.randn(64).astype("float32")],
             int(i % 3)) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    fx = str(tmp_path / "fx")
    df.coalesce(1).write.parquet(fx + "/embeddings.parquet")

    out = QUERIES["q_llm_index_update"](spark, fx).collect()
    assert out, "base segment missing"
    assert {r.segment for r in out} == {"base"}
    out2 = QUERIES["q_llm_index_update"](spark, fx).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # compaction over the empty delta: merged == base, zero delta rows
    m = QUERIES["q_llm_index_merge"](spark, fx).collect()
    assert sum(r.n_from_delta for r in m) == 0
    assert sum(r.n_postings for r in m) == sum(r.n_postings for r in out)


def test_lm_score_stupid_backoff_hand_computed(spark, tmp_path):
    """Pin the Stupid-Backoff semantics (not just oracle parity) on a
    hand-computed corpus.  Train docs 0 and 5 give unigrams a:3 b:3 c:1
    (N=7) and bigrams (a,b):3 (b,a):1 (b,c):1.  Held-out doc 4 'a b z':
    (a,b) seen -> p=3/3=1 (nll 0, hit); (b,z) OOV -> p=0.4/7.  Held-out
    doc 9 'c c': (c,c) unseen bigram, c known -> backoff p=0.4*(1/7)."""
    import math

    import pandas as pd

    from lstore_spark.registry import QUERIES

    docs = pd.DataFrame({
        "doc_id": [0, 5, 4, 9],
        "text": ["a b a b c ", "a b ", "a b z ", "c c "],
        "lang": ["en"] * 4, "source": ["t"] * 4,
        "n_chars": [10, 4, 6, 4],
    })
    fx = str(tmp_path / "fx")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        fx + "/documents.parquet")

    out = {r.doc_id: r for r in
           QUERIES["q_llm_text_lm_score"](spark, fx).collect()}
    assert set(out) == {4, 9}
    r4, r9 = out[4], out[9]
    assert (r4.n_scored, r4.bigram_hit_rate) == (2, 0.5)
    assert r4.avg_nll == round(-math.log(0.4 / 7) / 2, 6)
    assert (r9.n_scored, r9.bigram_hit_rate) == (1, 0.0)
    assert r9.avg_nll == round(-math.log(0.4 * (1 / 7)), 6)


def test_spark_murmur3_parity_with_jvm_hash(spark):
    """The driver-side numpy Murmur3 that now derives LSH planes with
    no Spark job (VERDICT r8 #7) must equal JVM ``hash(int, int)``
    ELEMENTWISE — pinned over a grid wider than any real (planes, dim)
    so divergence can never be silent."""
    from lstore_spark.llm.similarity import (hyperplane_matrix,
                                             spark_murmur3_int)

    n_p, dim = 300, 96
    rows = spark.range(n_p).select(
        F.col("id").cast("int").alias("p"),
        F.expr(f"transform(sequence(0, {dim - 1}), "
               f"i -> hash(CAST(id AS INT), i))").alias("h")).collect()
    J = np.zeros((n_p, dim), dtype=np.int64)
    for r in rows:
        J[r.p] = r.h
    p = np.arange(n_p, dtype=np.uint32)[:, None]
    i = np.arange(dim, dtype=np.uint32)[None, :]
    H = spark_murmur3_int(np.broadcast_to(i, (n_p, dim)),
                          spark_murmur3_int(p, np.uint32(42)))
    assert np.array_equal(H, J.astype(np.uint32))
    # sign convention: +1 exactly where the JVM hash is even
    assert np.array_equal(hyperplane_matrix(n_p, dim),
                          np.where(J % 2 == 0, 1.0, -1.0))


def _documents_fixture(tmp_path, base: list[tuple[int, str | None]],
                       extra: list[tuple[int, str | None]]):
    """(fixture dir, DuckDB connection) over a one-file documents table
    of ``base`` + ``extra`` (doc_id, text) rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = base + extra
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": ["en"] * len(rows),
        "source": ["src1"] * len(rows),
        "n_chars": pa.array([len(r[1] or "") for r in rows], pa.int64()),
    }), str(fx / "documents.parquet"))
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW documents AS SELECT * "
                 f"FROM '{fx}/documents.parquet'")
    return str(fx), duck


def _fixture_docs(sf_dir: str, n: int | None = None):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"]).sort_by("doc_id")
    rows = list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))
    return rows if n is None else rows[:n]


def _minhash_corpus(sf_dir, tmp_path):
    """(fixture dir, DuckDB connection, planted doc ids) over 200 fixture
    docs, the degenerate 0/1/2-token + blank + NULL-text docs (whose
    zero-padded single shingle is the edge the numpy path
    re-implements), and one planted near-duplicate of each of the first
    six docs so candidate pairs exist."""
    base = _fixture_docs(sf_dir, 200)
    edge = [(900001, "single"), (900002, "two tokens"), (900003, " "),
            (900004, "a b c d"), (900005, None), (900006, "")]
    planted = []
    for doc_id, text in base[:6]:
        words = text.split()
        words[len(words) // 2] = "PLANTEDEDIT"
        planted.append((910_000 + doc_id, " ".join(words)))
    fx, duck = _documents_fixture(tmp_path, base, edge + planted)
    return fx, duck, {p for p, _ in planted}


def test_minhash_signatures_vectorized_matches_hof(spark, sf_dir, tmp_path):
    """The Arrow-vectorized signature builder's per-doc ``mhs`` and
    ``bkts`` must equal the hash-grade DuckDB oracle's ``mhs``/``bkts``
    CTEs, doc for doc, over the _minhash_corpus docs."""
    from lstore_spark.llm.dedup import _BANDS, _minhash_oracle

    fx, duck, planted = _minhash_corpus(sf_dir, tmp_path)
    sql = _minhash_oracle()
    sql = (sql[:sql.rindex("SELECT d.doc_id")]
           + "SELECT doc_id, mhs, bkts FROM mhs JOIN bkts USING (doc_id)")
    want = {r[0]: (list(r[1]), list(r[2]))
            for r in duck.execute(sql).fetchall()}
    got = {r.doc_id: (list(r.mhs), list(r.bkts)) for r in
           minhash_signatures(load_table(spark, fx, "documents")).collect()}
    assert len(got) == 200 + 6 + len(planted)
    assert all(len(b) == _BANDS for _, b in got.values())
    bad = [d for d in got if got[d] != want.get(d)]
    assert not bad and set(got) == set(want), bad[:5]


def test_minhash_with_buckets_matches_hof_banding(spark, sf_dir, tmp_path):
    """The banding stage over the signature frame's ``bkts`` (hot-bucket
    cap, first-band dedup, mate rollup) must hash-match the DuckDB
    oracle for the whole q_llm_dedup_minhash pipeline over the
    _minhash_corpus docs, and every planted near-duplicate must find
    its mate."""
    from lstore_spark.registry import ORACLE
    from tests.oracle_check import compare

    fx, duck, planted = _minhash_corpus(sf_dir, tmp_path)
    key = "q_llm_dedup_minhash"
    out = QUERIES[key](spark, fx)
    res = compare(key, out, duck, ORACLE[key])
    assert res.ok, res.detail
    mated = {r.doc_id for r in out.filter(F.col("n_mates") > 0).collect()}
    assert planted <= mated


def test_hyperplane_band_rows_plan_construction_runs_no_job(spark):
    """Building (and explaining) the LSH band-rows DataFrame must run
    ZERO Spark jobs (VERDICT r8 #7): --explain and plan_audit stay
    plan-only now that the plane matrix is derived driver-side."""
    from lstore_spark.llm.similarity import hyperplane_band_rows

    df = spark.createDataFrame([(1, [0.5] * 64)],
                               "vec_id: long, embedding: array<float>")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = hyperplane_band_rows(df, "vec_id", "embedding", bits=4, bands=3)
    out.explain()  # plan compilation included — still no job
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_lsh_rounding_threshold_pins_nonpositive_band(spark):
    """ADVICE r8: rounding the plane dot at 1e-6 before the sign
    threshold classifies dots in (0, 5e-7] as NON-positive.  Pin the
    semantics: a vector whose plane-0 dot is +4e-7 buckets with that
    bit clear, the same direction scaled to a 2e-6 dot sets it, and
    every band bucket equals the driver-side plane-matrix prediction
    under the same rounded-threshold rule (expectation computed from
    the float32-stored vector, since embeddings are array<float>)."""
    from lstore_spark.llm.similarity import (hyperplane_band_rows,
                                             hyperplane_matrix)

    bits, bands, dim = 4, 3, 64
    H = hyperplane_matrix(bits * bands, dim)
    pow2 = 2 ** np.arange(bits)
    for target, want_bit0 in [(4e-7, 0), (2e-6, 1)]:
        v = (H[0] * (target / dim)).astype(np.float32)  # dot(v, H[0]) ≈ target
        dots = H @ v.astype(np.float64)
        eb = np.round(dots, 6) > 0
        expect = [int(eb[b * bits:(b + 1) * bits] @ pow2)
                  for b in range(bands)]
        assert expect[0] % 2 == want_bit0
        df = spark.createDataFrame([(1, [float(x) for x in v])],
                                   "vec_id: long, embedding: array<float>")
        got = {r.band: r.bkt for r in hyperplane_band_rows(
            df, "vec_id", "embedding", bits=bits, bands=bands).collect()}
        assert [got[b] for b in range(bands)] == expect


def test_pq_codebook_persisted_roundtrip_bit_exact(spark, sf_dir):
    """VERDICT r8 #3: the PQ codebook persists train-once/search-many.
    The disk-loaded matrix must be BIT-identical to the freshly trained
    one (parquet DOUBLE is IEEE binary64), so pq_adc's hash grade is
    independent of which path served the quantizer."""
    import lstore_spark.llm.embeddings as E

    E._PQ_CB_CACHE.clear()
    c_first = E.pq_codebook(spark, sf_dir)   # train or disk, either way
    E._PQ_CB_CACHE.clear()
    c_disk = E.pq_codebook(spark, sf_dir)    # guaranteed disk-load now
    assert np.array_equal(c_first, c_disk)
    assert c_first.dtype == np.float64 and c_first.shape[1] == 64


def test_semantic_oracle_fixture_has_near_twins(duck):
    """test_oracle_parity[q_llm_dedup_semantic] certifies the Gram
    keep-flag pass against the oracle; that only tests the near-twin
    threshold if the fixture has near-twins — the oracle must drop
    some vectors (keep = false)."""
    from lstore_spark.registry import ORACLE

    n_dropped = duck.execute(
        f"SELECT count(*) FROM ({ORACLE['q_llm_dedup_semantic']}) "
        f"WHERE NOT keep").fetchone()[0]
    assert n_dropped > 0, "fixture should contain near-twin pairs at this tau"


def _char_entropy_vs_oracle(spark, tmp_path, base, edge):
    """q_llm_text_char_entropy over ``base`` + ``edge`` docs, checked by
    compare() against the DuckDB oracle; returns the edge docs'
    {doc_id: (n_distinct_chars, char_entropy_bits)}."""
    from lstore_spark.registry import ORACLE
    from tests.oracle_check import compare

    fx, duck = _documents_fixture(tmp_path, base, edge)
    key = "q_llm_text_char_entropy"
    out = QUERIES[key](spark, fx)
    res = compare(key, out, duck, ORACLE[key])
    assert res.ok, res.detail
    ids = [d for d, _ in edge]
    return {r.doc_id: (r.n_distinct_chars, r.char_entropy_bits) for r in
            out.filter(F.col("doc_id").isin(ids)).collect()}


def test_char_entropy_vectorized_matches_exploded(spark, sf_dir, tmp_path):
    """The zero-Exchange Arrow char-entropy path (one np.unique over
    packed (doc, code-point) keys + exact-decimal round9 term table)
    must hash-match the DuckDB oracle over the fixture docs AND the
    degenerate docs that pin the split semantics: '' (n=1, H=0), NULL
    text (doc dropped), non-BMP chars as single code points, a
    single-char run, and a 90-symbol near-uniform alphabet."""
    edge = [(100001, ""), (100002, "a"), (100003, "a\U0001F600\U0001F600b"),
            (100004, None), (100005, "ab ba"), (100006, "x" * 5000),
            (100007, "".join(chr(33 + i % 90) for i in range(4000)))]
    got = _char_entropy_vs_oracle(spark, tmp_path, _fixture_docs(sf_dir),
                                  edge)
    assert 100004 not in got and got[100001][1] == 0.0


def test_char_entropy_vectorized_long_doc_overflow(spark, tmp_path):
    """The 1e-12-scaled int64 fast path wraps past n·log2(n)·1e12 ≥ 2⁶²
    (~2.4e5 code points) — exactly the long single-char-spam inputs the
    detector exists to flag.  Such docs must route through the exact
    Python-int slow path and hash-match the DuckDB oracle: a 600k
    single-char doc (its term alone overflows int64) must score H=0,
    and a 1M-char 4-symbol doc H=2."""
    edge = [(1, "x" * 600_000), (2, "abcd" * 250_000),
            (3, "short normal doc")]
    got = _char_entropy_vs_oracle(spark, tmp_path, [], edge)
    assert got[1] == (1, 0.0)
    assert got[2] == (4, 2.0)


def test_char_entropy_plan_has_no_exchange(spark, sf_dir):
    """Per-doc entropy is a pure projection: the registered path must
    compile to a plan with ZERO shuffles (the old form paid two)."""
    p = (QUERIES["q_llm_text_char_entropy"](spark, sf_dir)
         ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in p, p


def test_bpe_vocab_fixture_parity_memo_and_invalidation(spark, sf_dir,
                                                        tmp_path):
    """The r10 oracle artifact: (a) the pure-Python vocab fixture's
    (word, n_tok) rows equal the SPARK-trained encoder's per-word
    counts (the two training paths — pyarrow/Counter vs the
    explode+groupBy job — must freeze the same tokenizer); (b) a
    second call is memoized (same path, no rewrite); (c) a DIFFERENT
    corpus yields a different scratch path with its own vocabulary —
    the fingerprint invalidation that keeps a regenerated fixture from
    being scored with a stale merge table."""
    import os

    import pyarrow.parquet as pq

    from lstore_spark.llm.bpe import (build_vocab_fixture, corpus_merges,
                                      encode_word)

    path = build_vocab_fixture(sf_dir)
    tbl = pq.read_table(path)
    vocab = dict(zip(tbl.column("word").to_pylist(),
                     tbl.column("n_tok").to_pylist()))
    ranks = {p: i for i, p in enumerate(corpus_merges(spark, sf_dir))}
    assert vocab, "empty vocab fixture"
    for w, n in vocab.items():
        assert n == len(encode_word(w, ranks)), w

    mtime = os.path.getmtime(path)
    assert build_vocab_fixture(sf_dir) == path
    assert os.path.getmtime(path) == mtime, "memoized call rewrote"

    other = tmp_path / "fx"
    other.mkdir()
    spark.createDataFrame(
        [(0, "aa bb aa bb"), (1, "cc dd cc dd")],
        "doc_id long, text string"
    ).coalesce(1).write.parquet(str(other / "documents.parquet"))
    path2 = build_vocab_fixture(str(other))
    assert path2 != path, "fingerprint failed to fork the scratch dir"
    words2 = set(pq.read_table(path2).column("word").to_pylist())
    assert words2 == {"aa", "bb", "cc", "dd"}


def test_bpe_trainer_refuses_oversized_driver_pull(spark, sf_dir,
                                                   monkeypatch):
    """VERDICT r10 #6: corpus_merges' distinct-word collect is
    sample-bounded by the fixture, so the guard must fail LOUDLY (not
    driver-OOM) if a regenerated corpus ever pushes the training
    sample's vocabulary past the cap.  Shrink the cap below the real
    fixture vocabulary and require the refusal; then confirm the
    normal-cap path still trains (and memoizes) fine."""
    from lstore_spark.llm import bpe

    monkeypatch.setattr(bpe, "_TRAIN_WORD_CAP", 5)
    monkeypatch.setattr(bpe, "_MERGE_CACHE", {})
    with pytest.raises(ValueError, match="distinct words"):
        bpe.corpus_merges(spark, sf_dir)

    monkeypatch.setattr(bpe, "_TRAIN_WORD_CAP", 1_000_000)
    merges = bpe.corpus_merges(spark, sf_dir)
    assert merges, "normal-cap training must still produce merges"


def test_bpe_vocab_fixture_reaps_stale_tmp(tmp_path):
    """ADVICE r10: a builder that crashed between write_table and
    os.replace leaks `vocab.parquet.tmp<pid>` forever; the next build
    must reap stale staging files and leave only the published vocab."""
    import os

    from lstore_spark.llm.bpe import build_vocab_fixture

    fx = tmp_path / "fx"
    fx.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(
        pa.table({"doc_id": [0, 1], "text": ["aa bb", "cc dd"]}),
        str(fx / "documents.parquet"))
    # First build just to learn the scratch dir, then simulate a crash.
    path = build_vocab_fixture(str(fx))
    out = os.path.dirname(path)
    debris = os.path.join(out, "vocab.parquet.tmp999999")
    with open(debris, "wb") as fh:
        fh.write(b"torn")
    os.unlink(os.path.join(out, "_SUCCESS"))  # force a rebuild
    assert build_vocab_fixture(str(fx)) == path
    assert not os.path.exists(debris), "stale staging file not reaped"
    leftovers = [n for n in os.listdir(out) if ".tmp" in n]
    assert not leftovers, leftovers


def test_lsh_portable_twin_planes_and_output_contract(spark, sf_dir):
    """The r10 hash-grade LSH twin: (a) the md5-derived planes are
    stable and well-formed (16 × 64 bits, not degenerate); (b) the
    query's output respects the pipeline contract — id_a < id_b inside
    the slice bound, rank 1..5 dense per id_a ordered by
    (cos_sim DESC, id_b), cosine in [-1, 1]; (c) two invocations are
    bit-identical (no hidden nondeterminism — the property the oracle
    hash relies on)."""
    from lstore_spark.llm.similarity import (_LSH_PORTABLE_BOUND,
                                             _lsh_portable_plane_bits)

    planes = _lsh_portable_plane_bits()
    assert planes == _lsh_portable_plane_bits()
    assert len(planes) == 16
    for p in planes:
        assert len(p) == 64 and set(p) <= {"0", "1"}
        assert 0 < p.count("1") < 64, "degenerate plane"

    rows = QUERIES["q_llm_sim_lsh_topk_portable"](spark, sf_dir).collect()
    assert rows, "twin returned no candidate pairs"
    by_a: dict = {}
    for r in rows:
        assert r.id_a < r.id_b < _LSH_PORTABLE_BOUND
        assert -1.0 <= r.cos_sim <= 1.0
        by_a.setdefault(r.id_a, []).append(r)
    for id_a, grp in by_a.items():
        grp.sort(key=lambda r: r.rank)
        assert [r.rank for r in grp] == list(range(1, len(grp) + 1))
        assert len(grp) <= 5
        key = [(-r.cos_sim, r.id_b) for r in grp]
        assert key == sorted(key), f"rank order broken for id_a={id_a}"

    again = QUERIES["q_llm_sim_lsh_topk_portable"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_degenerate_inputs_score_instead_of_throwing(spark, tmp_path):
    """Spark 4's ANSI default turns double division by zero into a
    DIVIDE_BY_ZERO crash, and the llm filters' whole purpose is judging
    degenerate text / vectors (review r10: five quality/similarity
    paths divided by token counts or norms with no guard).  Pin the
    contract on a corpus of exactly the degenerate rows the fixtures
    lack: empty doc, whitespace doc, one-token doc, zero vector."""
    import os

    docs = spark.createDataFrame(
        [(0, "", 0, "src0"), (1, "   ", 3, "src0"),
         (2, "word", 4, "src1"), (3, "a b a b a b", 11, "src1")],
        "doc_id long, text string, n_chars long, source string")
    fx = tmp_path / "fx"
    fx.mkdir()
    docs.coalesce(1).write.parquet(str(fx / "documents.parquet"))
    spark.createDataFrame(
        [(0, [0.0] * 8, 0), (1, [1.0] * 8, 1)],
        "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(fx / "embeddings.parquet"))

    from lstore_spark.llm.text import cascade_flags
    from lstore_spark.registry import QUERIES

    rep = {r.doc_id: r for r in
           QUERIES["q_llm_text_repetition"](spark, str(fx)).collect()}
    assert rep[0].n_tokens == 0 and rep[0].distinct_ratio == 0.0
    assert rep[2].top_bigram_frac == 0.0       # 1 token -> no bigrams
    assert rep[0].keep == 0                     # empty doc fails the gate

    qual = {r.doc_id: r for r in
            QUERIES["q_llm_text_quality"](spark, str(fx)).collect()}
    assert qual[0].avg_word_len is None and qual[0].stop_ratio is None
    assert qual[0].quality_score == 0.0         # length component only

    flags = {r.doc_id: r for r in
             cascade_flags(spark.read.parquet(
                 str(fx / "documents.parquet"))).collect()}
    assert flags[0].f2 is False                 # empty doc FAILS, no crash

    quant = {r.vec_id: r for r in
             QUERIES["q_llm_emb_quantize"](spark, str(fx)).collect()}
    assert quant[0].q8 == ",".join(["0"] * 8)   # zero vector -> all zeros

    from pyspark.sql import functions as F

    from lstore_spark.llm.similarity import cosine
    em = spark.read.parquet(str(fx / "embeddings.parquet"))
    pair = (em.alias("a").crossJoin(em.alias("b"))
            .select(cosine("a.embedding", "b.embedding").alias("c"))
            .collect())
    # zero-vector pairs yield NULL (degrade-to-dropped), never a throw
    assert any(r.c is None for r in pair)
    assert any(r.c == 1.0 for r in pair)


def test_degenerate_embeddings_flow_through(spark, tmp_path):
    """review r12: NULL / empty / ragged / NULL-element embeddings must
    degrade per each operator's documented contract — never crash, never
    fabricate valid-looking rows, and match the oracle's semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import QUERIES

    good = [[float(i % 7) - 3.0 + j * 0.01 for i in range(64)]
            for j in range(12)]
    emb = good + [None, [], [1.0, 2.0], good[0][:32] + [None] + good[0][33:]]
    n = len(emb)
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in range(n)], pa.int32()),
    }), str(fx / "embeddings.parquet"))
    # docs table exists for keys that join it
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": [f"doc {i}" for i in range(n)],
        "lang": ["en"] * n, "source": ["src0"] * n,
        "n_chars": pa.array([5] * n, pa.int64()),
    }), str(fx / "documents.parquet"))
    sf = str(fx)

    qz = {r.vec_id: r for r in QUERIES["q_llm_emb_quantize"](spark, sf).collect()}
    assert qz[12].amax is None and qz[13].amax is None  # NULL + empty
    bz = {r.vec_id for r in QUERIES["q_llm_emb_binarize"](spark, sf).collect()}
    assert 12 not in bz and 13 not in bz, \
        "NULL/empty embeddings fabricated all-zero signatures"
    mk = {r.vec_id for r in QUERIES["q_llm_emb_matryoshka"](spark, sf).collect()}
    # 15's NULL element sits at dim 32 — OUTSIDE the 16-dim head, so
    # its head is complete and it stays; 12/13/14 (NULL/empty/ragged) drop
    assert mk == set(range(12)) | {15}, \
        "matryoshka must keep exactly the complete clean heads"
    pe = {r.vec_id for r in QUERIES["q_llm_emb_pq_encode"](spark, sf).collect()}
    assert pe == set(range(12)), \
        "pq_encode must drop NULL/ragged/NULL-element vectors"
    # whiten emits every row (the stats just skip NULL elements)
    wh = QUERIES["q_llm_emb_whiten"](spark, sf).count()
    assert wh == n
    # hierarchical router: NULL-element vector gets NULL cluster
    from lstore_spark.catalog import load_table
    from lstore_spark.llm.embeddings import (assign_nearest_hierarchical,
                                             centroid_vectors)
    em = load_table(spark, sf, "embeddings")
    cv = centroid_vectors(
        em.filter("vec_id < 12").select(F.col("label").alias("k"),
                                        "embedding"), "k")
    routed = {r.vec_id: r for r in assign_nearest_hierarchical(
        em, cv.select(F.col("k"), "cvec"), "k", n_fine=3).collect()}
    for bad in (12, 13, 14, 15):
        assert routed[bad].cluster is None and routed[bad].cos_sim is None, \
            f"degenerate vector {bad} routed to a cluster"
    for okid in range(12):
        assert routed[okid].cluster is not None

    # review r13: the EXACT assignment family drops degenerate vectors
    # (wf_vectors) and its oracles carry the matching guard — certify
    # row-for-row oracle parity ON the degenerate fixture, which the
    # clean sf0.01 sweep can never exercise
    import duckdb

    from lstore_spark.registry import ORACLE
    from tests.oracle_check import compare
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    for key in ("q_llm_emb_ivf_assign", "q_llm_emb_kmeans",
                "q_llm_emb_kmeans_portable", "q_llm_emb_kmeans_update",
                "q_llm_dedup_semantic", "q_llm_emb_norm_stats",
                # non-assignment family (r13 second pass): quantize hit
                # the array_to_string([])→NULL vs array_join([])→''
                # dialect trap on the empty vector
                "q_llm_emb_quantize", "q_llm_emb_centroid",
                "q_llm_emb_whiten", "q_llm_emb_pq_adc"):
        r = compare(key, QUERIES[key](spark, sf), con, ORACLE[key])
        assert r.ok, f"{key} on degenerate fixture: {r.detail}"
    asg = {r.vec_id for r in
           QUERIES["q_llm_emb_kmeans_portable"](spark, sf).collect()}
    assert asg == set(range(12)), "degenerate vectors must not be assigned"


def test_degenerate_documents_oracle_parity(spark, tmp_path):
    """review r13: a systematic degenerate-documents probe (NULL text,
    empty string, 1-token, 300×-single-char, multibyte unicode,
    whitespace-only) found FOUR sweep-invisible parity bugs — byte-vs-
    char levenshtein units, two array_to_string([])→NULL dialect traps,
    and a sign-of-zero entropy — so the probe is now a permanent pin:
    every oracle-backed text/dedup/quality key must hash-match DuckDB
    row-for-row ON this fixture.  Excluded by documented contract:
    q_llm_text_pack_bpe (its frozen vocab is built for the default
    sweep fixture), rows-only keys (no oracle)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import ORACLE, QUERIES
    from tests.oracle_check import compare

    texts = [f"document {i} with some words here repeated words {i % 3}"
             for i in range(18)]
    texts += [None, "", "one", "x" * 300,
              "☃ unicode tökens écrit 中文 here",
              "  leading and trailing  ", None]
    n = len(texts)
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en" if i % 5 else None for i in range(n)],
        "source": [None if i in (3, 19) else f"src{i % 3}"
                   for i in range(n)],
        "n_chars": pa.array([len(t or "") for t in texts], pa.int64()),
    }), str(fx / "documents.parquet"))
    good = [[float(i % 7) - 3.0 + j * 0.01 for i in range(64)]
            for j in range(16)]
    pq.write_table(pa.table({
        "vec_id": pa.array(range(16), pa.int64()),
        "embedding": pa.array(good, pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in range(16)], pa.int32()),
    }), str(fx / "embeddings.parquet"))

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    skip = {"q_llm_text_pack_bpe"}  # vocab frozen for the sweep fixture
    keys = sorted(
        k for k in QUERIES
        if k in ORACLE and k not in skip
        and (k.startswith("q_llm_text") or k.startswith("q_llm_dedup")
             or k.startswith("q_llm_filter") or k.startswith("q_llm_lang")
             or k.startswith("q_llm_mix") or k.startswith("q_udtf")
             or k.startswith("q_llm_pipeline")
             or k.startswith("q_llm_multimodal")))
    assert len(keys) >= 35, keys  # the family must stay covered
    bad = []
    for k in keys:
        r = compare(k, QUERIES[k](spark, str(fx)), con, ORACLE[k])
        if not r.ok:
            bad.append((k, r.detail))
    assert not bad, bad


def test_degenerate_events_oracle_parity(spark, tmp_path):
    """review r13: the events-side systematic probe (NULL ts / NULL user
    / NULL type / NULL value / NULL + malformed props / empty type /
    negative value / equal-ts ties) found a CLASS of sweep-invisible
    divergences: Spark orders NULL ts FIRST where DuckDB orders LAST
    (shifting every ts-ordered window), Spark's window() drops NULL-ts
    rows where time_bucket keeps a NULL group, DuckDB's concat SKIPS
    NULL args where Spark's propagates (A/B arm assignment), ->>/fmod/
    sqrt/ln semantics differ on malformed/negative input, and a plain
    equi-join back on a nullable user_id dropped rows the oracle kept.
    All fixed under two documented contracts — ts-ordered/bucketed
    operators exclude NULL-ts rows; experiment/user rollups exclude
    NULL users — and this pin runs the whole oracle-backed events
    family row-for-row against DuckDB on the degenerate fixture."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import ORACLE, QUERIES
    from tests.oracle_check import compare

    base = datetime.datetime(2024, 3, 1)
    rows = []
    for i in range(60):
        rows.append((i, base + datetime.timedelta(minutes=17 * i),
                     i % 7, ["view", "click", "purchase"][i % 3],
                     round(1.5 * (i % 11), 2),
                     '{"k": %d, "tag": "t%d"}' % (i, i % 4)))
    rows += [
        (100, None, 3, "view", 2.0, '{"k": 1}'),
        (101, base, None, "click", 1.0, '{"k": 2}'),
        (102, base + datetime.timedelta(hours=1), 2, None, 3.0, '{"k": 3}'),
        (103, base + datetime.timedelta(hours=2), 2, "purchase", None,
         '{"k": 4}'),
        (104, base + datetime.timedelta(hours=3), 4, "view", 5.0, None),
        (105, base + datetime.timedelta(hours=4), 4, "view", 5.0,
         '{bad json'),
        (106, base + datetime.timedelta(hours=5), 5, "", 0.0, '{}'),
        (107, base + datetime.timedelta(hours=5), 6, "view", -3.5,
         '{"k": -1}'),
    ]
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": [r[3] for r in rows],
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": [r[5] for r in rows],
    }), str(fx / "events.parquet"))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{fx}/events.parquet'")
    # oracle-backed keys whose ENTIRE read surface is the events table
    keys = [
        "q_evt_ab_test", "q_evt_active_users", "q_evt_anomaly_zscore",
        "q_evt_attribution", "q_evt_basket_lift", "q_evt_conversion_time",
        "q_evt_funnel", "q_evt_funnel_windowed", "q_evt_growth_accounting",
        "q_evt_markov", "q_evt_pathing", "q_evt_retention", "q_evt_rfm",
        "q_evt_sessionize", "q_fn_bitwise", "q_fn_cast", "q_fn_conditional",
        "q_fn_histogram", "q_fn_json", "q_fn_map", "q_fn_math",
        "q_fn_variant", "q_sample_reservoir", "q_sample_seeded",
        "q_stream_active_daily", "q_stream_apply_state",
        "q_stream_dedup_ids", "q_stream_foreachbatch_sink",
        "q_stream_session_window", "q_stream_sliding_sum",
        "q_stream_stateful_runagg", "q_stream_stream_join",
        "q_stream_stream_left_join", "q_stream_stream_outer_join",
        "q_stream_tumbling_count", "q_stream_watermark_late",
        "q_ts_counter_rate", "q_ts_cusum", "q_ts_downsample_peak",
        "q_ts_drawdown", "q_ts_ewma", "q_ts_forward_fill", "q_ts_gapfill",
        "q_ts_interpolate", "q_ts_interval_coalesce", "q_ts_missing_ranges",
        "q_ts_ohlc", "q_ts_pop_change", "q_ts_rollup_merge",
        "q_ts_zscore_rolling", "q_win_lag_lead", "q_win_sliding_avg",
        "q_win_time_range",
    ]
    bad = []
    for k in keys:
        r = compare(k, QUERIES[k](spark, str(fx)), con, ORACLE[k])
        if not r.ok:
            bad.append((k, r.detail))
    assert not bad, bad


def test_fixture_token_counts_within_oracle_cap():
    """review r13: seven oracles enumerate token positions with a
    CONSTANT ``range(1, _ORACLE_MAX_TOKENS)`` (DuckDB 1.0 cannot take
    lateral column bounds), which silently drops tail shingles the
    moment any fixture doc exceeds the cap — the failure would present
    as an engine mismatch in the sweep.  Assert the bound against EVERY
    generated sf dir so a regenerated fixture fails HERE, loudly, with
    the constant named."""
    import glob
    import os

    import duckdb

    from lstore_spark.llm.text import _ORACLE_MAX_CHUNKS, _ORACLE_MAX_TOKENS
    from lstore_spark.llm.text import _CHUNK, _STRIDE

    root = os.path.dirname(os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/"))
    dirs = sorted(glob.glob(os.path.join(root, "sf*")))
    assert dirs, f"no sf dirs under {root}"
    con = duckdb.connect()
    for d in dirs:
        path = os.path.join(d, "documents.parquet")
        if not os.path.exists(path):
            continue
        mx = con.execute(
            "SELECT max(len(list_filter(string_split(text, ' '), "
            "x -> x <> ''))) FROM read_parquet(?)", [path]).fetchone()[0]
        assert mx < _ORACLE_MAX_TOKENS, (
            f"{path}: a document has {mx} tokens >= _ORACLE_MAX_TOKENS="
            f"{_ORACLE_MAX_TOKENS}; the position-enumerating oracles "
            "(ngrams/fingerprint/lm_score/repetition/contamination/"
            "jaccard_ngram/substring) would silently drop tail shingles "
            "— raise the constant in lstore_spark/llm/text.py")
        # chunk-id enumeration: chunks = 1 + ceil((len-CHUNK)/STRIDE)
        assert 1 + (mx - _CHUNK + _STRIDE - 1) // _STRIDE \
            <= _ORACLE_MAX_CHUNKS, (
            f"{path}: {mx}-token doc needs more than "
            f"_ORACLE_MAX_CHUNKS={_ORACLE_MAX_CHUNKS} chunks")
        # r14: the minhash oracle's murmur3 string hash unrolls the
        # word loop to a CONSTANT byte budget — same loud-bound rule
        from lstore_spark.llm.dedup import _MM3_MAX_TOKEN_BYTES
        mb = con.execute(
            "SELECT max(strlen(u.t)) FROM (SELECT unnest(list_filter("
            "string_split(text, ' '), x -> x <> '')) AS t "
            "FROM read_parquet(?)) u", [path]).fetchone()[0]
        assert mb <= _MM3_MAX_TOKEN_BYTES, (
            f"{path}: a token has {mb} UTF-8 bytes > "
            f"_MM3_MAX_TOKEN_BYTES={_MM3_MAX_TOKEN_BYTES}; the minhash "
            "oracle's murmur3 word-unroll would silently truncate — "
            "raise the constant in lstore_spark/llm/dedup.py")


def test_minhash_oracle_murmur3_sql_matches_jvm(spark):
    """r14 (VERDICT r13 #5): the DuckDB-SQL murmur3 primitives behind
    q_llm_dedup_minhash's new hash-grade oracle must equal JVM
    ``F.hash`` elementwise — strings of EVERY tail length (0-3 leftover
    bytes), the empty string, multibyte UTF-8, and all fixture tokens;
    plus the int-chain ``hash(a, b, c)`` on probe triples (the string
    pin complements the existing spark_murmur3_int grid pin)."""
    import os

    import duckdb
    from pyspark.sql import functions as F

    from lstore_spark.llm.dedup import (_mm3_hash_int,
                                        _mm3_string_hash_layers)

    toks = ["", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
            "abcdefgh", "tok123", "über", "中文词", "naïve",
            "0123456789abcdefghijklmnopqrstuvwxyz"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    con = duckdb.connect()
    fixture = [r[0] for r in con.execute(
        "SELECT DISTINCT unnest(list_filter(string_split(text, ' '), "
        "x -> x <> '')) FROM read_parquet(?)",
        [os.path.join(sf_dir, "documents.parquet")]).fetchall()]
    toks = toks + fixture
    lst = ", ".join("'" + t.replace("'", "''") + "'" for t in toks)
    rows = dict(con.execute(
        f"WITH vocab AS (SELECT unnest([{lst}]) AS t) "
        f"SELECT t, CAST(uh AS BIGINT) - CASE WHEN uh >= 2147483648 "
        f"THEN 4294967296 ELSE 0 END "
        f"FROM ({_mm3_string_hash_layers('vocab')})").fetchall())
    ref = {r.t: r.h for r in spark.createDataFrame(
        [(t,) for t in toks], "t string")
        .select("t", F.hash("t").alias("h")).collect()}
    assert rows == ref

    # int chain: hash(a, b, c) = per-field hashInt folding
    triples = [(0, 0, 0), (1, 2, 3), (-1, 2**31 - 1, 42),
               (123456789, -987654321, 7)]
    q = ("SELECT " + _mm3_hash_int("CAST(((c %% 4294967296) + 4294967296)"
         " %% 4294967296 AS UBIGINT)", _mm3_hash_int(
             "CAST(((b %% 4294967296) + 4294967296) %% 4294967296 AS "
             "UBIGINT)", _mm3_hash_int(
                 "CAST(((a %% 4294967296) + 4294967296) %% 4294967296 "
                 "AS UBIGINT)", "CAST(42 AS UBIGINT)")))
         + " AS uh FROM probe").replace("%%", "%")
    got = []
    for a, b, c in triples:
        con.execute("CREATE OR REPLACE TABLE probe AS SELECT "
                    f"CAST({a} AS BIGINT) a, CAST({b} AS BIGINT) b, "
                    f"CAST({c} AS BIGINT) c")
        u = con.execute(q).fetchone()[0]
        got.append(u - (1 << 32) if u >= (1 << 31) else u)
    jref = [r.h for r in spark.createDataFrame(
        triples, "a int, b int, c int")
        .select(F.hash("a", "b", "c").alias("h")).collect()]
    assert got == jref


def test_dedup_incremental_null_text_flows_through(spark, tmp_path):
    """review r13: a NULL-text increment doc hashes to h=NULL, which
    matches NOTHING under SQL NULL equality — the oracle emits it with
    keep=true, and the Spark side's inner join on the nullable h used
    to silently DROP it (data loss in the daily-ingest exhibit)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import ORACLE, QUERIES
    from tests.oracle_check import compare

    fx = tmp_path / "fx"
    fx.mkdir()
    # evens = base (incl. a NULL-text base doc), odds = increment:
    # 1 is the NULL-text increment (must flow through with keep=true,
    # NOT match base 2's NULL hash), 3 duplicates base 0, 5 is fresh
    texts = ["base a", None, None, "base a", "base b", "inc unique"]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": ["en"] * len(texts), "source": ["s"] * len(texts),
        "n_chars": pa.array([len(t or "") for t in texts], pa.int64()),
    }), str(fx / "documents.parquet"))

    out = {r.doc_id: r for r in
           QUERIES["q_llm_dedup_incremental"](spark, str(fx)).collect()}
    # every odd (increment) doc is present — including the NULL-text one
    assert set(out) == {1, 3, 5}
    assert out[1].keep and not out[1].dup_of_base and not out[1].dup_in_batch
    assert out[3].dup_of_base and not out[3].keep
    assert out[5].keep and not out[5].dup_of_base and not out[5].dup_in_batch
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{fx}/documents.parquet'")
    r = compare("q_llm_dedup_incremental",
                QUERIES["q_llm_dedup_incremental"](spark, str(fx)),
                con, ORACLE["q_llm_dedup_incremental"])
    assert r.ok, r.detail


def test_index_search_degrades_null_query_row(spark, sf_dir, tmp_path):
    """review r13: a NULL query embedding (vec_id < 10) must degrade to
    zero hits for that query — the probe stage used to route it anyway
    and adc_gather crashed on the qmap entry _search_lut_inputs had
    (correctly) dropped.  A SHORT query embedding must degrade the same
    way IN BOTH ENGINES: the oracle's qx CTE now carries the engine's
    well-formed filter, where it previously scored a partial-dim route
    for the very row the Spark side drops (review r13 second pass)."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import ORACLE
    from tests.oracle_check import compare

    src = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    d = src.to_pydict()
    kill, shorten = 3, 5
    d["embedding"][d["vec_id"].index(kill)] = None
    d["embedding"][d["vec_id"].index(shorten)] = [1.0, 2.0]
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.Table.from_pydict(d, schema=src.schema),
                   str(fx / "embeddings.parquet"))

    out = QUERIES["q_llm_index_search"](spark, str(fx)).collect()
    got_q = {r.query_id for r in out}
    assert {kill, shorten}.isdisjoint(got_q), "degenerate query got hits"
    assert got_q == set(range(10)) - {kill, shorten}, got_q
    # and the ORACLE agrees row-for-row on the degenerate fixture
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{fx}/embeddings.parquet'")
    r = compare("q_llm_index_search",
                QUERIES["q_llm_index_search"](spark, str(fx)),
                con, ORACLE["q_llm_index_search"])
    assert r.ok, r.detail


def test_index_build_drops_degenerate_corpus_vectors(spark, sf_dir,
                                                     tmp_path):
    """review r13: a degenerate CORPUS vector (vec_id >= 10) must be
    dropped from routing/postings in BOTH engines — the Spark router
    already dropped it, but the oracle's unguarded vx scored a
    partial-dim route and partial codes for it (the query-side guard
    landed earlier in r13; this is the corpus-side twin).  Training
    (cent/bounds) still accumulates over the raw corpus with
    NULL-skipping per-element aggregates in both engines."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.registry import ORACLE
    from tests.oracle_check import compare

    src = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    d = src.to_pydict()
    kill, shorten = 450, 451          # delta-batch side of _UPDATE_SPLIT=400
    kill2, shorten2 = 20, 21          # base side
    for vid, mut in ((kill, None), (shorten, [1.0, 2.0]),
                     (kill2, None), (shorten2, [3.0])):
        d["embedding"][d["vec_id"].index(vid)] = mut
    fx = tmp_path / "fx"
    fx.mkdir()
    pq.write_table(pa.Table.from_pydict(d, schema=src.schema),
                   str(fx / "embeddings.parquet"))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{fx}/embeddings.parquet'")
    for key in ("q_llm_index_build", "q_llm_index_update",
                "q_llm_index_merge", "q_llm_index_search"):
        r = compare(key, QUERIES[key](spark, str(fx)), con, ORACLE[key])
        assert r.ok, f"{key} on degenerate corpus: {r.detail}"
    # and the postings really exclude the degenerate ids
    from lstore_spark.llm.ann_index import _read_postings, ann_index_dir
    posts = _read_postings(
        spark, os.path.join(ann_index_dir(str(fx)), "postings"))
    cand = {r.cand_id for r in posts.select("cand_id").collect()}
    assert {kill2, shorten2}.isdisjoint(cand)


def test_kmeans_unrolled_oracle_equals_loop_on_planted_fixtures(
        spark, tmp_path):
    """r13 graduation pin (VERDICT r12 #7): the fully-unrolled 6-round
    SQL oracle must equal the early-stopping Lloyd loop BECAUSE the
    fixpoint is absorbing — certify it on a planted fixture engineered
    to converge in ~1 round (8 tight clusters: each seed vector plus
    near-copies), where the loop stops rounds before the oracle's
    unroll, and on a harder random fixture that iterates longer."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lstore_spark.llm.embeddings import _kmeans_full_oracle
    from tests.oracle_check import canon_rows

    def run_both(vecs):
        fx = tmp_path / f"fx{len(run_ids)}"
        fx.mkdir()
        run_ids.append(1)
        tbl = pa.table({
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array([list(map(float, v)) for v in vecs],
                                  pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(len(vecs))], pa.int32()),
        })
        pq.write_table(tbl, str(fx / "embeddings.parquet"))
        got = QUERIES["q_llm_emb_kmeans"](spark, str(fx)).toPandas()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"'{fx}/embeddings.parquet'")
        want = con.execute(_kmeans_full_oracle()).df()
        g = canon_rows(list(got.columns),
                       [tuple(r) for r in got.itertuples(index=False,
                                                         name=None)])
        w = canon_rows(list(want.columns),
                       [tuple(r) for r in want.itertuples(index=False,
                                                          name=None)])
        assert g == w and len(g) == len(vecs)

    run_ids = []
    rnd = np.random.RandomState(7)
    # 8 tight clusters: seeds are the 8 lowest vec_ids, every other
    # vector is a tiny perturbation of one seed -> converges round 1
    seeds = rnd.randn(8, 64)
    tight = list(seeds) + [seeds[i % 8] * (1 + 1e-4 * ((i % 5) + 1))
                           for i in range(40)]
    run_both(tight)
    # harder: isotropic random vectors -> several Lloyd rounds
    run_both(list(rnd.randn(64, 64)))
