"""Training-data-pipeline operator tests (documents/embeddings + synthetic)."""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from victoriametrics_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_near_dup_pairs,
    simhash,
    simhash_near_pairs,
)
from victoriametrics_spark.operators.knn import (
    brute_force_topk,
    knn_threshold,
    lsh_knn_threshold,
    pairwise_cosine_within,
)
from victoriametrics_spark.operators.multimodal import (
    decode_media,
    extract_metadata,
    frame_sample_plan,
)
from victoriametrics_spark.operators.text import language_id, token_stats
from victoriametrics_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.mark.slow
def test_exact_dedup_synthetic(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")], ["doc_id", "text"]
    )
    out = exact_dedup(df, ["text"], "doc_id").orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == [1, 2]


def test_jaccard_pairs_synthetic(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),  # shares 3 of first doc's 4 shingles
            (3, "x y z w v u"),
        ],
        ["doc_id", "text"],
    )
    out = jaccard_pairs(df, threshold=0.3).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"]) == (1, 2)
    assert out[0]["jaccard"] == pytest.approx(3 / 5)


def test_minhash_recall_vs_exact(docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    # LSH candidates verified by exact jaccard ⇒ subset; near-dups here are
    # ~0.97 jaccard so recall should be total
    assert approx == exact
    assert len(exact) > 0


@pytest.mark.slow
def test_simhash_properties(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, base + " extra1"),
            (2, base + " extra2"),  # 1 of 41 tokens differs
            (3, other),
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    ham12 = bin(out[1] ^ out[2]).count("1")
    ham13 = bin(out[1] ^ out[3]).count("1")
    assert ham12 < ham13  # similar docs → closer hashes
    pairs = simhash_near_pairs(df, max_hamming=ham12).collect()
    assert any((p["id_a"], p["id_b"]) == (1, 2) for p in pairs)


@pytest.mark.slow
def test_simhash_blocking_recall_equals_brute_force(spark):
    """The chunk blocking must find EVERY pair within the radius — compare
    against brute-force all-pairs hamming at several radii (the round-1/2
    bug was silent recall loss above hamming 3)."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(120)]
    rows = []
    for d in range(60):
        toks = rng.sample(vocab, 40)
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hashes = {r["id"]: r["simhash"] for r in simhash(df).collect()}

    for radius in (3, 8, 12):
        brute = {
            (a, b)
            for a, b in itertools.combinations(sorted(hashes), 2)
            if bin(hashes[a] ^ hashes[b]).count("1") <= radius
        }
        got = {
            (p["id_a"], p["id_b"])
            for p in simhash_near_pairs(df, max_hamming=radius).collect()
        }
        assert got == brute, f"radius {radius}: {len(got)} vs {len(brute)}"


def test_knn_topk_and_threshold(embs):
    q = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = embs.filter(F.col("vec_id") != 0)
    topk = brute_force_topk(rest, list(q), 5).collect()
    assert len(topk) == 5
    scores = [r["cosine"] for r in topk]
    assert scores == sorted(scores, reverse=True)
    thr = knn_threshold(rest, list(q), scores[-1]).collect()
    assert len(thr) >= 5


def test_lsh_knn_subset_of_brute(embs):
    q = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = embs.filter(F.col("vec_id") != 0)
    brute = {r["vec_id"]: r["cosine"] for r in knn_threshold(rest, list(q), 0.2).collect()}
    approx = {r["vec_id"]: r["cosine"] for r in lsh_knn_threshold(rest, list(q), 0.2).collect()}
    assert set(approx) <= set(brute)
    for k, v in approx.items():
        assert v == brute[k]


def test_lsh_knn_md5_subset_of_brute(embs):
    q = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = embs.filter(F.col("vec_id") != 0)
    brute = {r["vec_id"]: r["cosine"] for r in knn_threshold(rest, list(q), 0.2).collect()}
    approx = {
        r["vec_id"]: r["cosine"]
        for r in lsh_knn_threshold(rest, list(q), 0.2, plane_fn="md5").collect()
    }
    assert 0 < len(approx)
    assert set(approx) <= set(brute)
    for k, v in approx.items():
        assert v == brute[k]


def test_md5_planes_oracle_values():
    """md5_planes must match an independent recomputation of its spec:
    int(md5('lsh:{seed}:{table}:{i}:{d}')[:13 hex], 16) / 2^51 - 1 — and
    every component must be exactly representable (13 hex = 52 bits fits
    the 53-bit double mantissa; /2^51 is a power-of-two scale)."""
    import hashlib

    from victoriametrics_spark.operators.knn import md5_planes

    planes = md5_planes(4, 2, seed=7, table=3)
    for i in (0, 1):
        for d in range(4):
            raw = int(
                hashlib.md5(f"lsh:7:3:{i}:{d}".encode()).hexdigest()[:13], 16
            )
            expect = raw / 2**51 - 1.0
            assert planes[i][d] == expect
            # exact representability: the int->double conversion is lossless
            assert int((planes[i][d] + 1.0) * 2**51) == raw
            assert -1.0 <= planes[i][d] < 1.0


def test_pairwise_within_label(embs):
    out = pairwise_cosine_within(embs.limit(100), "label", 0.3)
    rows = out.collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.3


@pytest.mark.slow
def test_token_stats_and_lang(docs):
    stats = token_stats(docs).collect()
    assert all(r["n_distinct"] <= r["n_tokens"] for r in stats)
    pred = language_id(docs).collect()
    assert all(r["predicted_lang"] in ("en", "de", "es", "fr", "zh", "unknown") for r in pred)


def test_multimodal_plumbing(spark):
    rows = [
        (1, "image", b"\x89PNG fake image bytes", "png"),
        (2, "video", b"\x00\x00mp4 fake video bytes", "mp4"),
        (3, "audio", b"RIFF fake wav bytes", "wav"),
        (4, "image", None, "png"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "kind", "content", "format"])
    meta = {r["media_id"]: r for r in extract_metadata(df).collect()}
    assert meta[1]["n_bytes"] == len(rows[0][2])
    decoded = {r["media_id"]: r for r in decode_media(df).collect()}
    assert decoded[2]["n_frames"] >= 1
    assert decoded[1]["n_frames"] == 1  # images single-frame
    assert 64 <= decoded[1]["width"] < 256
    # determinism
    again = {r["media_id"]: r for r in decode_media(df).collect()}
    assert decoded == again
    plan = frame_sample_plan(df, every_n=5).collect()
    assert all(r["frame_idx"] % 5 == 0 for r in plan)


def _png_bytes(w, h, color=2):
    """Minimal valid 8-bit PNG (stdlib-only encoder for the test)."""
    import struct
    import zlib

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    bpp = {0: 1, 2: 3, 6: 4}[color]
    raw = b"".join(
        b"\x00" + bytes([(x * y) % 256 for x in range(w * bpp)])
        for y in range(h)
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _wav_bytes(channels, rate, frames):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"\x01\x02" * channels * frames)
    return buf.getvalue()


def test_multimodal_real_decode(spark):
    """PNG / WAV / GIF content is REALLY decoded (stdlib container
    parses incl. PNG IDAT inflation); unrecognized bytes keep the
    deterministic fake path."""
    import struct

    gif = (
        b"GIF89a" + struct.pack("<HH", 12, 7) + b"\x00\x00\x00" + b"\x2c"
        + b"\x00" * 10
    )
    rows = [
        (1, "image", _png_bytes(20, 10), "png"),
        (2, "image", _png_bytes(5, 3, color=6), "png"),
        (3, "audio", _wav_bytes(2, 44100, 100), "wav"),
        (4, "image", gif, "gif"),
        (5, "video", b"\x00\x00\x00\x18ftypmp42 not decodable", "mp4"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "kind", "content", "format"])
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["n_frames"]) == (20, 10, 1)
    assert (out[2]["width"], out[2]["height"]) == (5, 3)
    assert (out[3]["width"], out[3]["height"], out[3]["n_frames"]) == (
        2,
        44100,
        100,
    )
    assert (out[4]["width"], out[4]["height"]) == (12, 7)
    # video container: no stdlib codec → deterministic fake dims
    assert 64 <= out[5]["width"] < 256 and out[5]["n_frames"] >= 1

    # multi-frame GIF with 0x2C bytes inside the global color table AND
    # the LZW data: the block-structure walk must count exactly the two
    # image descriptors (a byte-scan would see ≥8 separators)
    gif2 = b"GIF89a" + struct.pack("<HH", 4, 3) + bytes([0x80, 0, 0])
    gif2 += b"\x2c\x2c\x2c" + b"\xff\xff\xff"  # 2-entry GCT, 0x2C noise
    for _ in range(2):
        gif2 += b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 3) + b"\x00"
        gif2 += b"\x02" + bytes([3, 0x2C, 0x2C, 0x2C]) + b"\x00"
    gif2 += b"\x3b"
    df2 = spark.createDataFrame(
        [(10, "image", gif2, "gif")],
        ["media_id", "kind", "content", "format"],
    )
    r2 = decode_media(df2).collect()[0]
    assert (r2["width"], r2["height"], r2["n_frames"]) == (4, 3, 2)

    # corrupt PNG pixel data (wrong inflated size) falls back to fake —
    # proof the IDAT stream is really inflated and validated
    good = _png_bytes(8, 8)
    import zlib as _z

    bad_idat = _z.compress(b"\x00" * 5)  # too short for 8x8 RGB
    # rebuild: signature + IHDR chunk (8..33) + bad IDAT + IEND
    ihdr_chunk = good[8:33]
    bad = (
        good[:8]
        + ihdr_chunk
        + struct.pack(">I", len(bad_idat))
        + b"IDAT"
        + bad_idat
        + struct.pack(">I", _z.crc32(b"IDAT" + bad_idat))
        + good[-12:]
    )
    df2 = spark.createDataFrame(
        [(9, "image", bad, "png")], ["media_id", "kind", "content", "format"]
    )
    r = decode_media(df2).collect()[0]
    assert (r["width"], r["height"]) != (8, 8)


def test_multimodal_mp4_box_walk(spark):
    """Minimal synthetic ISO-BMFF: the REAL box walk reads the video
    track's tkhd dimensions and the stsz sample count."""
    import struct

    def box(t, payload):
        return struct.pack(">I", 8 + len(payload)) + t + payload

    tkhd = (
        b"\x00" + b"\x00" * 3  # version/flags
        + b"\x00" * 72  # times/ids/matrix (version 0 layout)
        + struct.pack(">I", 640 << 16)  # width 16.16
        + struct.pack(">I", 360 << 16)  # height 16.16
    )
    stsz = b"\x00\x00\x00\x00" + struct.pack(">II", 0, 240)  # 240 samples
    stbl = box(b"stbl", box(b"stsz", stsz))
    trak = box(
        b"trak",
        box(b"tkhd", tkhd) + box(b"mdia", box(b"minf", stbl)),
    )
    mp4 = box(b"ftyp", b"mp42\x00\x00\x00\x00") + box(b"moov", trak)
    df = spark.createDataFrame(
        [(1, "video", mp4, "mp4")], ["media_id", "kind", "content", "format"]
    )
    r = decode_media(df).collect()[0]
    assert (r["width"], r["height"], r["n_frames"]) == (640, 360, 240)
    plan = frame_sample_plan(df, every_n=60).collect()
    assert [p["frame_idx"] for p in plan] == [0, 60, 120, 180]


def test_ivf_knn_subset_of_brute(embs):
    from victoriametrics_spark.operators.knn import (
        deterministic_centroids,
        ivf_knn_threshold,
    )

    q = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = embs.filter(F.col("vec_id") != 0)
    brute = {r["vec_id"]: r["cosine"] for r in knn_threshold(rest, list(q), 0.2).collect()}
    approx = {
        r["vec_id"]: r["cosine"]
        for r in ivf_knn_threshold(rest, list(q), 0.2, k_cells=4, n_probe=2).collect()
    }
    assert 0 < len(approx)
    assert set(approx) <= set(brute)
    for k, v in approx.items():
        assert v == brute[k]
    # probing every cell = exact: recall proof of the cell partition
    cents = deterministic_centroids(rest, 4)
    full = {
        r["vec_id"]: r["cosine"]
        for r in ivf_knn_threshold(
            rest, list(q), 0.2, k_cells=4, n_probe=4, centroids=cents
        ).collect()
    }
    assert full == brute


def test_ivf_lloyd_refine_recall(embs):
    """One Lloyd iteration must keep the IVF index valid (results remain
    a subset of brute force with identical cosines) and reach the recall
    target at n_probe/k_cells = 2/4 on the gate fixture."""
    from victoriametrics_spark.operators.knn import (
        deterministic_centroids,
        ivf_knn_threshold,
        lloyd_refine,
    )

    q = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = embs.filter(F.col("vec_id") != 0)
    brute = {
        r["vec_id"]: r["cosine"]
        for r in knn_threshold(rest, list(q), 0.2).collect()
    }
    seeds = deterministic_centroids(rest, 4)
    refined = lloyd_refine(rest, seeds, iterations=1)
    assert len(refined) == 4 and refined != seeds
    approx = {
        r["vec_id"]: r["cosine"]
        for r in ivf_knn_threshold(
            rest, list(q), 0.2, k_cells=4, n_probe=2, centroids=refined
        ).collect()
    }
    assert set(approx) <= set(brute)
    for k, v in approx.items():
        assert v == brute[k]
    recall = len(approx) / max(1, len(brute))
    assert recall >= 0.5, f"recall {recall:.2f} below target"


def test_chunk_documents_boundaries(spark):
    from victoriametrics_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks
            (2, "a b"),                                  # < size: 1 chunk
            (3, ""),                                     # empty: no rows
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, size=8, overlap=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: stride 4, starts bounded by n - overlap → [0, 4]; no
    # redundant tail chunk fully covered by its predecessor
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [(r["chunk_id"], r["n_tokens"]) for r in c1] == [(0, 8), (1, 6)]
    assert c1[0]["chunk_text"].split() == [f"w{i}" for i in range(8)]
    assert c1[1]["chunk_text"].split() == [f"w{i}" for i in range(4, 10)]
    assert [(r["chunk_id"], r["n_tokens"], r["chunk_text"]) for r in by_doc[2]] == [
        (0, 2, "a b")
    ]
    assert 3 not in by_doc
    # full coverage invariant: every token index appears in some chunk
    covered = set()
    for r in c1:
        covered.update(r["chunk_text"].split())
    assert covered == {f"w{i}" for i in range(10)}


def test_repetition_stats_gopher(spark):
    from victoriametrics_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "x y x y x y"),   # 2-grams: xy yx xy yx xy → top 3/5
            (2, "a b c d"),       # all distinct → top 1/3, dup 0
            (3, "q"),             # < n tokens → no row
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert out[1]["top_ngram_frac"] == 0.6
    assert out[1]["dup_ngram_frac"] == 0.6  # 5 occurrences, 2 distinct
    assert out[2]["top_ngram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[2]["dup_ngram_frac"] == 0.0
    assert 3 not in out


def test_connected_components_and_keep_list(spark):
    from victoriametrics_spark.operators.dedup import (
        connected_components,
        near_dup_keep_list,
    )

    # chain 1-2-3, pair 10-11, singleton 20 (no pairs)
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    comps = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 20)], ["doc_id", "text"]
    )
    kept = sorted(
        r["doc_id"] for r in near_dup_keep_list(docs, pairs).collect()
    )
    assert kept == [1, 10, 20]


def test_quantized_knn_accuracy(embs):
    """int8 quantization: asymmetric cosine tracks exact cosine closely
    (max error well under int8 resolution) and top-10 recall ≥ 0.8 on
    the real embeddings table."""
    from victoriametrics_spark.operators.knn import (
        cosine_to_query,
        quantize_embeddings,
        quantized_knn_threshold,
    )

    q = embs.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    rest = embs.filter(F.col("vec_id") != 0)
    exact = {
        r["vec_id"]: r["cosine"]
        for r in cosine_to_query(rest, list(q)).collect()
    }
    qdf = quantize_embeddings(rest)
    approx = {
        r["vec_id"]: r["cosine"]
        for r in quantized_knn_threshold(qdf, list(q), -2.0).collect()
    }
    assert set(approx) == {k for k, v in exact.items() if v is not None}
    errs = [abs(approx[k] - exact[k]) for k in approx]
    assert max(errs) < 0.02
    top_exact = sorted(exact, key=lambda k: -exact[k])[:10]
    top_q = sorted(approx, key=lambda k: -approx[k])[:10]
    assert len(set(top_exact) & set(top_q)) >= 8
    # int8 range respected
    row = qdf.select(
        F.max(F.array_max("qvec")).alias("hi"),
        F.min(F.array_min("qvec")).alias("lo"),
    ).first()
    assert -127 <= row["lo"] and row["hi"] <= 127


def test_redact_pii_counts_and_order(spark):
    from victoriametrics_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@ex-a.mple.org or jo@b.co thanks"),
            (2, "host 10.20.30.40 and 192.168.0.1 up"),
            (3, "call 555-123-4567 now"),
            # digits+dots inside an email must NOT double-count as an IP
            # once the email is redacted first
            (4, "ping a1.2.3.4b@ex.com ok"),
            (5, "clean text, nothing to scrub"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 0, 0)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 2, 0)
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) == (0, 0, 1)
    assert (out[4]["n_email"], out[4]["n_ipv4"]) == (1, 0)
    # unchanged doc keeps its original md5
    import hashlib

    assert out[5]["redacted_md5"] == hashlib.md5(
        b"clean text, nothing to scrub"
    ).hexdigest()


def test_decontaminate_ngram_overlap(spark):
    from victoriametrics_spark.operators.text import decontaminate

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # shares two distinct 4-grams with eval (one repeated — the
            # distinct count must not double it)
            (1, "quick brown fox jumps again and quick brown fox jumps"),
            (2, "entirely different words here with no overlap at all"),
            # shares exactly one 4-gram
            (3, "over the lazy dog sleeps"),
            (4, "quick brown fox"),  # only 3 tokens → no 4-gram
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["n_shared"] for r in decontaminate(train, eval_df, n=4).collect()}
    # doc1 shares only "quick brown fox jumps" — twice, counted once;
    # doc3 shares only "over the lazy dog"; doc2/doc4 are clean
    assert out == {1: 1.0, 3: 1.0}


def test_decontaminate_sort_merge_path(spark):
    """broadcast_eval=False (the too-big-to-broadcast escape hatch)
    returns identical results via a shuffled join on xxhash64(gram),
    and its plan contains no BroadcastExchange of the eval side."""
    from victoriametrics_spark.operators.text import decontaminate

    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "quick brown fox jumps again and quick brown fox jumps"),
            (2, "entirely different words here with no overlap at all"),
            (3, "over the lazy dog sleeps"),
            (4, "quick brown fox"),
        ],
        ["doc_id", "text"],
    )
    out = decontaminate(train, eval_df, n=4, broadcast_eval=False)
    got = {r["doc_id"]: r["n_shared"] for r in out.collect()}
    assert got == {1: 1.0, 3: 1.0}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan


def test_stratified_sample_deterministic(spark):
    import hashlib

    from victoriametrics_spark.operators.text import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 0.5, "de": 0.1}
    kept = {r["doc_id"] for r in stratified_sample(df, rates).collect()}
    # exact membership: pure function of md5(doc_id)
    expect = set()
    for i, lang in rows:
        thr = format(int(rates[lang] * 65536), "04x")
        if hashlib.md5(str(i).encode()).hexdigest()[:4] < thr:
            expect.add(i)
    assert kept == expect
    # rates approximately honored
    n_en = sum(1 for i in kept if i % 2 == 0)
    n_de = len(kept) - n_en
    assert abs(n_en / 200 - 0.5) < 0.15 and abs(n_de / 200 - 0.1) < 0.1
    # repeat run identical (determinism, no RNG)
    again = {r["doc_id"] for r in stratified_sample(df, rates).collect()}
    assert again == kept
    # rate 1.0 keeps the entire stratum (no 4-hex-digit overflow),
    # rate 0.0 keeps none
    full = stratified_sample(df, {"en": 1.0, "de": 0.0}).collect()
    assert sorted(r["doc_id"] for r in full) == [i for i, _ in rows if i % 2 == 0]


def test_pack_chunks_contiguous_bins(spark):
    from victoriametrics_spark.operators.text import pack_chunks

    df = spark.createDataFrame(
        [(1, "en", 4), (2, "en", 4), (3, "en", 4), (4, "en", 4), (5, "de", 11)],
        ["doc_id", "lang", "n_tokens"],
    )
    out = {
        (r["lang"], r["bin_id"]): (r["n_docs"], r["bin_tokens"], r["fill_ratio"])
        for r in pack_chunks(df, capacity=10, strata_col="lang").collect()
    }
    # en: exclusive cumsums 0,4,8,12 → bins 0,0,0,1; bin0 overflows to 12
    # (doc kept whole — overflow < max doc tokens), bin1 holds the rest
    assert out[("en", 0)] == (3.0, 12.0, 1.2)
    assert out[("en", 1)] == (1.0, 4.0, 0.4)
    # de: single oversized doc gets its own bin
    assert out[("de", 0)] == (1.0, 11.0, 1.1)


def test_bpe_token_stats_known_counts(spark):
    from victoriametrics_spark.operators.text import bpe_token_stats

    df = spark.createDataFrame(
        [
            # GPT-2 pre-tokenizer split: ["It", "'s", " 42", "%", " done"]
            (1, "It's 42% done"),
            (2, "hello world"),  # [hello][ world]
            (3, "你好 world"),     # [你好][ world] — \p{L} covers CJK
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bpe_token_stats(df).collect()}
    assert (out[1]["n_ws_tokens"], out[1]["n_bpe_tokens"]) == (3.0, 5.0)
    assert (out[2]["n_ws_tokens"], out[2]["n_bpe_tokens"]) == (2.0, 2.0)
    assert (out[3]["n_ws_tokens"], out[3]["n_bpe_tokens"]) == (2.0, 2.0)
    assert out[1]["bpe_per_word"] == pytest.approx(5 / 3, abs=1e-6)


def test_c4_clean_rules(spark):
    """C4 line rules (terminal punctuation, >=3 words, no javascript)
    and doc rules (>=5 sentences, lorem ipsum, curly brace)."""
    from victoriametrics_spark.operators.text import c4_clean

    good = "\n".join(
        f"this is sentence number {i}." for i in range(5)
    )
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + "\nno terminal punctuation line"),
            (3, good + "\ntoo short."),
            (4, good + "\nsome javascript mention here."),
            (5, "one good sentence."),
            (6, good + " lorem ipsum"),
            (7, good + " function() {"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_clean(docs).collect()}
    assert out[1]["kept_lines"] == 5 and out[1]["keep_doc"]
    # non-punctuated / short / javascript lines dropped, doc still kept
    assert out[2]["kept_lines"] == 5 and out[2]["keep_doc"]
    assert out[3]["kept_lines"] == 5  # "too short." has < 3 words
    assert out[4]["kept_lines"] == 5 and out[4]["keep_doc"]
    # fewer than 5 sentences after cleaning: dropped
    assert out[5]["n_sentences"] == 1 and not out[5]["keep_doc"]
    # poison strings drop the whole document
    assert not out[6]["keep_doc"] and not out[7]["keep_doc"]


def test_gopher_quality_filter_rules(spark):
    from victoriametrics_spark.operators.text import gopher_quality_filter

    base = ("the data and value of that table have with row " * 7).strip()
    docs = spark.createDataFrame(
        [
            (1, base),                      # 70 words, stopword-rich
            (2, "tiny doc the of"),         # too few words
            (3, ("xx " * 70).strip()),      # no stop words
            (4, base + " " + "### " * 30),  # symbol-heavy
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_filter(docs).collect()}
    assert out[1]["keep_doc"] and out[1]["stopword_hits"] >= 2
    assert out[1]["n_words"] == 70
    assert 3.0 <= out[1]["mean_word_len"] <= 10.0
    assert not out[2]["keep_doc"]           # word-count floor
    assert not out[3]["keep_doc"]           # stop-word test fails
    assert not out[4]["keep_doc"]           # symbol ratio > 0.1
    assert out[4]["symbol_word_ratio"] > 0.1


def test_semantic_dedup_synthetic(spark):
    """Two tight semantic clusters + one singleton: the keep-list holds
    the minimum id of each duplicate component plus the singleton, and
    pairs only form within an IVF cell."""
    from victoriametrics_spark.operators.knn import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),   # ~dup of 1
        (3, [0.98, -0.01, 0.0]),  # ~dup of 1
        (4, [0.0, 1.0, 0.0]),
        (5, [0.0, 0.99, 0.02]),   # ~dup of 4
        (6, [0.0, 0.0, 1.0]),     # singleton
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    pairs = semantic_dedup_pairs(df, 0.95, k_cells=3).collect()
    assert all(r["cosine"] >= 0.95 and r["id_a"] < r["id_b"] for r in pairs)
    kept = sorted(
        r["vec_id"] for r in semantic_dedup(df, 0.95, k_cells=3).collect()
    )
    assert kept == [1, 4, 6]


@pytest.mark.slow
def test_semantic_dedup_real_corpus(embs):
    """On the real embeddings table the keep-list is a subset of the
    corpus containing exactly one representative per component, and
    raising tau monotonically keeps MORE vectors."""
    from victoriametrics_spark.operators.knn import semantic_dedup

    total = embs.count()
    loose = semantic_dedup(embs, 0.3, k_cells=8).count()
    tight = semantic_dedup(embs, 0.9, k_cells=8).count()
    assert 0 < loose <= tight <= total


def _fold_normed(v):
    """The vector divided by its norm as Spark computes it: a sequential
    Σx² and try_divide. None where Spark's cosine is null."""
    if v is None or any(x is None for x in v):
        return None
    s = 0.0
    for x in v:
        s += x * x
    n = math.sqrt(s)
    return None if n == 0 else [x / n for x in v]


def _ref_pairs(rows, tau):
    """{(group, id_a, id_b): cosine} for (group, id, vector) rows, by a
    plain ``dot += x * y``; a NaN cosine counts as >= tau."""
    normed = [(g, i, _fold_normed(v)) for g, i, v in rows]
    out = {}
    for g, i, a in normed:
        for h, j, b in normed:
            if g is None or g != h or not i < j or a is None or b is None:
                continue
            if len(a) != len(b):
                continue
            dot = 0.0
            for x, y in zip(a, b):
                dot += x * y
            if not dot < tau:
                out[(g, i, j)] = dot
    return out


def _round6(c):
    """Spark's round(c, 6): HALF_UP on the decimal form; 'nan' for NaN
    so results compare as values."""
    if math.isnan(c):
        return "nan"
    return float(Decimal(repr(c)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _pair_at(rng, target, dim=64):
    """Two vectors whose sequential-fold cosine is exactly ``target``:
    a pair near it, nudged by relative 2^-50 steps until it lands."""
    u = _fold_normed([rng.gauss(0, 1) for _ in range(dim)])
    w = [rng.gauss(0, 1) for _ in range(dim)]
    p = sum(x * y for x, y in zip(u, w))
    w = _fold_normed([y - p * x for x, y in zip(u, w)])
    s = math.sqrt(1 - target * target)
    v = [target * x + s * y for x, y in zip(u, w)]
    while True:
        vv = [x * (1 + rng.uniform(-1, 1) * 2.0**-50) for x in v]
        if _ref_pairs([(0, 0, u), (0, 1, vv)], -2.0)[(0, 0, 1)] == target:
            return u, vv


def test_within_group_pairs_exact_at_tau(spark):
    """Pairs whose sequential-fold cosine is exactly tau are kept and
    pairs one ulp below are dropped, whatever order BLAS sums in; the
    kernel's cosines equal the plain left-to-right fold bit for bit.
    Null, null-element, zero, ragged and NaN vectors pair as Spark's
    null / NaN cosine does."""
    import pyarrow as pa

    from victoriametrics_spark.operators.knn import (
        _group_pairs,
        semantic_dedup_pairs,
    )

    rng = random.Random(20240)
    tau = 0.9
    rows = []  # (label, vec_id, embedding)
    below, above = math.nextafter(tau, -math.inf), math.nextafter(tau, math.inf)
    for k, target in enumerate([tau, below, above] * 6):
        u, v = _pair_at(rng, target)
        rows += [(k, 2 * k, u), (k, 2 * k + 1, v)]
    u0 = rows[0][2]
    rows += [
        (0, 100, [0.0] * 64),                # zero norm
        (0, 101, [None] + u0[1:]),           # null element
        (0, 102, None),                      # null vector
        (1, 103, [float("nan")] + u0[1:]),   # NaN: pairs with all of label 1
        (2, 104, [1.0, 0.0]),                # ragged: pairs only with 105
        (2, 105, [1.0, 1e-9]),
        (None, 106, [1.0, 0.0]),             # a null label pairs nothing
        (None, 107, [1.0, 0.0]),
    ]
    want = _ref_pairs(rows, tau)
    assert {(0, 0, 1), (3, 6, 7), (2, 4, 5)} <= set(want)
    assert (1, 2, 3) not in want and (1, 2, 103) in want
    assert (2, 104, 105) in want and not any(106 in k for k in want)

    # the kernel itself, unrounded: the fold decides and gives the value
    a, b, cos = _group_pairs(
        pa.array([i for _, i, _ in rows], pa.int64()),
        pa.array([v for _, _, v in rows], pa.list_(pa.float64())),
        tau,
        1024,
    )
    got = {(rows[x][1], rows[y][1]): repr(c) for x, y, c in zip(a, b, cos)}
    # one group here, so the pairs of all labels meet
    one_group = _ref_pairs([(0, i, v) for _, i, v in rows], tau)
    assert got == {(i, j): repr(c) for (_, i, j), c in one_group.items()}

    df = spark.createDataFrame(
        rows, "label int, vec_id long, embedding array<double>"
    )
    got = {
        (r["label"], r["id_a"], r["id_b"]): _round6(r["cosine"])
        for r in pairwise_cosine_within(df, "label", tau).collect()
    }
    assert got == {k: _round6(c) for k, c in want.items()}

    # SemDeDup with one centroid: every vector lands in cell 0
    got = {
        (r["cell"], r["id_a"], r["id_b"]): _round6(r["cosine"])
        for r in semantic_dedup_pairs(
            df, tau, centroids=[(0, [0.0] * 64)]
        ).collect()
    }
    assert got == {k: _round6(c) for k, c in one_group.items()}


def test_semantic_dedup_tiled_gram_matches_reference(spark):
    """One cell of 60 vectors in planted duplicate clusters, with the
    Gram cut into 7-row tiles: pair set and keep-list equal the untiled
    pass and the plain-Python reference, and semantic_dedup hands back
    the kept rows unchanged on every column."""
    from array import array

    from victoriametrics_spark.operators.knn import _within_group, semantic_dedup

    rng = random.Random(5)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(15)]
    rows = []
    for i in range(60):
        noise = 0.02 if i % 4 else 0.5
        v = [x + rng.gauss(0, noise) for x in centers[rng.randrange(15)]]
        rows.append(
            (
                1000 - 7 * i,
                array("f", v).tolist(),
                i % 3,
                float("nan") if i % 11 == 0 else i / 4,
                None if i % 13 == 0 else f"t{i}",
                None if i % 17 == 0 else 2**60 + i,
            )
        )
    rows.append((5, [None] + rows[0][1][1:], 0, 1.0, "n", None))
    df = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<float>, label int, score double, "
        "tag string, big long",
    )
    tau = 0.95
    want = _ref_pairs([(0, r[0], r[1]) for r in rows], tau)
    assert len(want) > 20
    parent = {r[0]: r[0] for r in rows}

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for _, i, j in want:
        ri, rj = root(i), root(j)
        parent[max(ri, rj)] = min(ri, rj)
    want_keep = {r[0] for r in rows if root(r[0]) == r[0]}
    assert len(want_keep) < len(rows)

    one_cell = df.withColumn("cell", F.lit(0))
    for tile in (7, 1024):
        pairs = _within_group(
            one_cell.select("cell", "vec_id", "embedding"),
            "cell", tau, "embedding", "vec_id", _tile_rows=tile,
        )
        got = {
            (r["cell"], r["id_a"], r["id_b"]): _round6(r["cosine"])
            for r in pairs.collect()
        }
        assert got == {k: _round6(c) for k, c in want.items()}
        kept = _within_group(
            one_cell, "cell", tau, "embedding", "vec_id",
            keep_rows=True, _tile_rows=tile,
        )
        assert {r["vec_id"] for r in kept.collect()} == want_keep

    kept = semantic_dedup(df, tau, k_cells=1)
    assert kept.columns == df.columns
    ids = spark.createDataFrame([(i,) for i in want_keep], "vec_id long")
    assert sorted(map(repr, kept.collect())) == sorted(
        map(repr, df.join(ids, "vec_id").select(df.columns).collect())
    )


def test_remove_boilerplate_lines(spark):
    from victoriametrics_spark.operators.text import remove_boilerplate_lines

    df = spark.createDataFrame(
        [
            (1, "unique one\ncookie banner\nreal content a"),
            (2, "cookie banner\nreal content b"),
            (3, "cookie banner\nunique three"),
            (4, "cookie banner"),  # becomes empty -> dropped
            (5, "standalone doc"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, min_docs=3).collect()
    }
    assert sorted(out) == [1, 2, 3, 5]  # doc 4 fully boilerplate
    assert out[1]["text"] == "unique one\nreal content a"
    assert out[1]["removed_lines"] == 1 and out[1]["kept_lines"] == 2
    assert out[2]["text"] == "real content b"
    assert out[5]["removed_lines"] == 0
    # below the threshold ("cookie banner" is in 4 docs) nothing is removed
    assert (
        remove_boilerplate_lines(df, min_docs=5)
        .filter(F.col("removed_lines") > 0)
        .count()
        == 0
    )


def test_duplicate_passage_pairs(spark):
    """Shared 4-gram passages pair docs; the hot-gram cap drops
    boilerplate grams present in too many docs."""
    from victoriametrics_spark.operators.dedup import duplicate_passage_pairs

    shared = "alpha beta gamma delta"  # one 4-gram
    viral = "click here to subscribe"  # in every doc -> capped out
    df = spark.createDataFrame(
        [
            (1, f"{shared} one {viral}"),
            (2, f"{shared} two {viral}"),
            (3, f"unrelated text entirely {viral}"),
            (4, f"other words here now {viral}"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in duplicate_passage_pairs(
            df, n=4, min_shared=1, max_gram_docs=3
        ).collect()
    }
    # the viral gram sits in 4 docs > cap=3, so only (1,2) pair via
    # the shared passage
    assert out == {(1, 2): 1.0}
    # without the cap every doc pairs through the viral gram
    uncapped = duplicate_passage_pairs(
        df, n=4, min_shared=1, max_gram_docs=50
    ).count()
    assert uncapped == 6


def test_unigram_logprob_score(spark):
    """Frequent-token docs score low (expected), rare/OOV docs high;
    Laplace arithmetic verified against a hand computation."""
    import math

    from victoriametrics_spark.operators.text import unigram_logprob_score

    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common rare"),
        ],
        ["doc_id", "text"],
    )
    # vocab_size=1: vocabulary = {common: 5} (most frequent), N=5, V=1
    out = {
        r["doc_id"]: r
        for r in unigram_logprob_score(df, vocab_size=1).collect()
    }
    p_common = (5 + 1) / (5 + 1)   # = 1.0 -> -ln = 0
    p_oov = (0 + 1) / (5 + 1)
    assert out[1]["logprob_score"] == pytest.approx(-math.log(p_common), abs=1e-6)
    exp2 = (-math.log(p_common) - math.log(p_oov)) / 2
    assert out[2]["logprob_score"] == pytest.approx(exp2, abs=1e-6)
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 2
    assert out[2]["logprob_score"] > out[1]["logprob_score"]


def test_persisted_ivf_index_partition_pruning(spark, embs):
    """write_ivf_index lays vectors out in cell=<id> partition dirs;
    a probe's scan LISTS only the n_probe probed partitions (physical
    partition pruning, not a runtime filter) and returns exactly what
    the in-memory IVF path returns."""
    from victoriametrics_spark.operators.knn import (
        deterministic_centroids,
        ivf_index_knn_threshold,
        ivf_knn_threshold,
        write_ivf_index,
    )
    from victoriametrics_spark.storage.layout import drop_samples_table

    q = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = embs.filter(F.col("vec_id") != 0)
    cents = deterministic_centroids(rest, 8)
    tbl = "ivf_index_test_t"
    try:
        stored = write_ivf_index(rest, tbl, centroids=cents)
        assert stored == cents
        out = ivf_index_knn_threshold(
            spark, tbl, cents, list(q), 0.2, n_probe=2
        )
        # physical evidence: the probed scan reads files from exactly
        # 2 cell=... partition directories
        cells_touched = {
            seg
            for f in out.inputFiles()
            for seg in f.split("/")
            if seg.startswith("cell=")
        }
        assert len(cells_touched) == 2
        expect = {
            (r["vec_id"], r["cosine"])
            for r in ivf_knn_threshold(
                rest, list(q), 0.2, k_cells=8, n_probe=2, centroids=cents
            ).collect()
        }
        got = {(r["vec_id"], r["cosine"]) for r in out.collect()}
        assert got == expect and len(got) > 0
    finally:
        drop_samples_table(spark, tbl)


def test_tfidf_top_terms(spark):
    """TF-IDF keywords: corpus-wide terms get idf=ln(N/df); ranking is
    by rounded score desc then term asc; k bounds output per doc."""
    import math

    from victoriametrics_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "banana cherry shared"),
            (3, "cherry cherry cherry shared"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, k=2).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) == 2 for v in by_doc.values())
    # doc 1: apple tf=2 df=1 → 2·ln(3); banana tf=1 df=2 → ln(1.5)
    top1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert top1[0]["term"] == "apple"
    assert top1[0]["tfidf"] == pytest.approx(2 * math.log(3.0), abs=1e-6)
    assert top1[1]["term"] == "banana"
    # "shared" (df=N → idf 0) never outranks informative terms
    assert all(r["term"] != "shared" or r["tfidf"] == 0.0 for r in out)
    # doc 3: cherry tf=3 df=2 → 3·ln(1.5) top
    top3 = sorted(by_doc[3], key=lambda r: r["rank"])
    assert top3[0]["term"] == "cherry"
    assert top3[0]["tfidf"] == pytest.approx(3 * math.log(1.5), abs=1e-6)


def test_dsir_log_weights(spark):
    """DSIR importance weights (Xie et al. 2023): docs made of
    target-enriched tokens weigh higher than raw-typical docs; Laplace
    arithmetic verified by hand."""
    import math

    from pyspark.sql import functions as F

    from victoriametrics_spark.operators.text import dsir_log_weights

    df = spark.createDataFrame(
        [
            (1, "en", "good good"),
            (2, "en", "good noise"),
            (3, "xx", "noise noise noise"),
            (4, "xx", "good noise noise"),
        ],
        ["doc_id", "lang", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dsir_log_weights(
            df, F.col("lang") == "en", vocab_size=10
        ).collect()
    }
    # vocab: good c_raw=4 c_t=3; noise c_raw=6 c_t=1 → N_raw=10 N_t=4 V=2
    lw_good = math.log((3 + 1) / (4 + 2)) - math.log((4 + 1) / (10 + 2))
    lw_noise = math.log((1 + 1) / (4 + 2)) - math.log((6 + 1) / (10 + 2))
    assert out[1]["log_weight"] == pytest.approx(2 * lw_good, abs=1e-6)
    assert out[3]["log_weight"] == pytest.approx(3 * lw_noise, abs=1e-6)
    # target-like docs outrank raw-typical docs
    assert out[1]["log_weight"] > out[2]["log_weight"] > out[3]["log_weight"]
    assert out[1]["n_tokens"] == 2


def test_ccnet_quality_buckets(spark):
    """Per-language terciles: head = lowest LM score within its lang;
    languages bucket independently; terciles are equal-sized."""
    from victoriametrics_spark.operators.text import ccnet_quality_buckets

    rows = []
    # lang A: 6 docs of decreasing corpus-typicality
    common = "the quick brown fox jumps over the lazy dog"
    for i in range(6):
        text = " ".join([common] * (6 - i) + [f"rare{i}"] * i)
        rows.append((i, "a", text))
    # lang B: 3 docs
    for i in range(3):
        rows.append((10 + i, "b", common + f" odd{i}" * i))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = ccnet_quality_buckets(df, vocab_size=50).collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    a = sorted(by_lang["a"], key=lambda r: r["logprob_score"])
    # equal terciles in rank order
    assert [r["bucket"] for r in a] == [
        "head", "head", "middle", "middle", "tail", "tail"
    ]
    b = sorted(by_lang["b"], key=lambda r: r["logprob_score"])
    assert [r["bucket"] for r in b] == ["head", "middle", "tail"]
    # the most corpus-typical doc of lang a is head
    assert a[0]["doc_id"] == 0


def test_temperature_sample_rates(spark):
    """alpha=1 keeps every row of the biggest stratum and exact shares
    of the rest; alpha→0 pushes every rate to 1 (uniform mixing);
    rates follow (p^alpha)/max(p^alpha) hand-computed."""
    import math

    from victoriametrics_spark.operators.text import temperature_sample

    rows = [(i, "en") for i in range(90)] + [(i + 100, "fr") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])

    out = temperature_sample(df, alpha=0.3, strata_col="lang")
    rates = {
        r["lang"]: r["keep_rate"]
        for r in out.select("lang", "keep_rate").distinct().collect()
    }
    exp_fr = math.floor((0.1**0.3) / (0.9**0.3) * 1e6 + 0.5) / 1e6
    assert rates["en"] == 1.0
    assert rates["fr"] == pytest.approx(exp_fr, abs=1e-9)
    # en keeps everything at rate 1.0 (the 'g' sentinel threshold)
    assert out.filter(F.col("lang") == "en").count() == 90

    # the fr keep-set is exactly the ids whose md5 prefix clears the
    # alpha-scaled threshold (recomputed here with hashlib)
    import hashlib

    thr = format(int(exp_fr * 65536), "04x")
    exp_kept = {
        i + 100
        for i in range(10)
        if hashlib.md5(str(i + 100).encode()).hexdigest()[:4] < thr
    }
    got_kept = {
        r["doc_id"] for r in out.filter(F.col("lang") == "fr").collect()
    }
    assert got_kept == exp_kept and exp_kept


def test_char_entropy_known_values(spark):
    """Single-char doc → 0 bits; uniform 4-char alphabet → 2 bits;
    empty doc produces no row."""
    from victoriametrics_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, ""), (4, "aabb")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["entropy_bits"] == 0.0
    assert out[1]["n_chars"] == 4 and out[1]["n_unique_chars"] == 1
    assert out[2]["entropy_bits"] == 2.0
    assert out[4]["entropy_bits"] == 1.0


def test_bigram_logprob_score(spark):
    """Hand-checked interpolated score on a 2-doc corpus; docs with
    <2 tokens produce no row; repeated-bigram docs score lower than
    novel-bigram docs."""
    import math

    from victoriametrics_spark.operators.text import bigram_logprob_score

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a c"), (3, "x")],
        ["doc_id", "text"],
    )
    # corpus tokens: a×4 b×3 c×1 x×1 → vocab_size=2 keeps {a:4, b:3},
    # N=7, V=2. In-vocab bigrams: (a,b)×3, (b,a)×2.
    out = {
        r["doc_id"]: r
        for r in bigram_logprob_score(df, vocab_size=2, lam=0.5).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 1

    def term(cbi, cprev, ccur):
        p_bi = (cbi + 1) / (cprev + 2)
        p_uni = (ccur + 1) / (7 + 2)
        return -math.log(0.5 * p_bi + 0.5 * p_uni)

    exp1 = (3 * term(3, 4, 3) + 2 * term(2, 3, 4)) / 5
    exp2 = term(0, 4, 0)  # (a,c): c OOV → cbi=0, ccur=0
    assert out[1]["bigram_score"] == pytest.approx(exp1, abs=1e-6)
    assert out[2]["bigram_score"] == pytest.approx(exp2, abs=1e-6)
    assert out[1]["bigram_score"] < out[2]["bigram_score"]


def test_cluster_stats_synthetic(spark):
    """Two separable clusters: tight cluster → cosine 1 / inertia 0;
    symmetric pair → centroid mid-point, hand-checked inertia."""
    from victoriametrics_spark.operators.knn import cluster_stats

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 2.0], 1),
            (4, [2.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["label"]: r for r in cluster_stats(df).collect()}
    assert out[0]["n"] == 2 and out[1]["n"] == 2
    assert out[0]["mean_cosine"] == 1.0
    assert out[0]["inertia"] == 0.0
    assert out[0]["centroid_norm"] == 1.0
    # cluster 1: centroid (1,1), norm sqrt(2); each member sqdist = 1+1
    assert out[1]["centroid_norm"] == pytest.approx(2**0.5, abs=1e-6)
    assert out[1]["inertia"] == pytest.approx(2.0, abs=1e-6)


def test_audio_energy_windows(spark):
    """Fake-PCM windows: code points map to centered samples, windows
    tile the clip, last partial window keeps its true length, silence
    flags follow the RMS threshold; non-audio rows drop out."""
    import math

    from victoriametrics_spark.operators.multimodal import (
        audio_energy_windows,
    )

    # 'A' = 65 → sample -63; chr(128) = sample 0 (silence)
    clip = "A" * 16 + chr(128) * 16 + "A" * 4
    df = spark.createDataFrame(
        [(1, "audio", clip.encode()), (2, "image", b"xxxx")],
        "media_id long, kind string, content binary",
    )
    out = {
        r["window_idx"]: r
        for r in audio_energy_windows(df, window=16, silence_rms=32.0).collect()
    }
    assert set(out) == {0, 1, 2}
    assert all(r["media_id"] == 1 for r in out.values())
    assert out[0]["n_samples"] == 16 and out[2]["n_samples"] == 4
    assert out[0]["rms"] == 63.0 and not out[0]["is_silence"]
    assert out[1]["rms"] == 0.0 and out[1]["is_silence"]
    assert out[2]["rms"] == 63.0


def test_sessionize_gap_rule(spark):
    """30-min gap splits sessions; simultaneous events stay atomic in
    one session; single-event session has duration 0."""
    from datetime import datetime, timezone

    from victoriametrics_spark.operators.events import sessionize

    def ts(m):
        return datetime.fromtimestamp(m * 60, tz=timezone.utc)

    rows = [
        # user 1: events at t=0,10,20 | gap | t=120,125
        (1, 1, ts(0)), (2, 1, ts(10)), (3, 1, ts(20)),
        (4, 1, ts(120)), (5, 1, ts(125)),
        # user 2: two simultaneous events then one far later
        (6, 2, ts(0)), (7, 2, ts(0)), (8, 2, ts(500)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {
        (r["user_id"], r["session_seq"]): r
        for r in sessionize(df, gap_ms=30 * 60000).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1), (2, 2)}
    assert out[(1, 1)]["n_events"] == 3
    assert out[(1, 1)]["duration_ms"] == 20 * 60000
    assert out[(1, 2)]["n_events"] == 2
    assert out[(2, 1)]["n_events"] == 2 and out[(2, 1)]["duration_ms"] == 0
    assert out[(2, 2)]["n_events"] == 1 and out[(2, 2)]["duration_ms"] == 0


def test_funnel_counts_ordered_window(spark):
    """Only in-order, in-window progressions convert: out-of-order
    (click before view) and beyond-window hops don't count."""
    from datetime import datetime, timezone

    from victoriametrics_spark.operators.events import funnel_counts

    def ts(m):
        return datetime.fromtimestamp(m * 60, tz=timezone.utc)

    rows = [
        # user 1 converts fully: view@0 click@5 purchase@10
        (1, "view", ts(0)), (1, "click", ts(5)), (1, "purchase", ts(10)),
        # user 2: click BEFORE view — no conversion past step 1
        (2, "click", ts(0)), (2, "view", ts(5)),
        # user 3: view then click outside the 30-min window
        (3, "view", ts(0)), (3, "click", ts(60)),
        # user 4: never views
        (4, "purchase", ts(0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(
            df, ["view", "click", "purchase"], window_ms=30 * 60000
        ).collect()
    }
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_minhash_estimate_vs_exact(spark):
    """Identical docs estimate 1.0 with 0 error; near-dups' estimate
    stays within the k=9 sketch's quantization of the true Jaccard."""
    from victoriametrics_spark.operators.dedup import (
        minhash_jaccard_estimate,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra tail words here")],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in minhash_jaccard_estimate(df).collect()
    }
    assert (1, 2) in out
    r12 = out[(1, 2)]
    assert r12["est_jaccard"] == 1.0 and r12["jaccard"] == 1.0
    assert r12["abs_err"] == 0.0
    for r in out.values():
        # estimate is a multiple of 1/9 (up to its 6-decimal rounding)
        assert abs(r["est_jaccard"] * 9 - round(r["est_jaccard"] * 9)) < 1e-4
        assert 0.0 <= r["abs_err"] <= 1.0


def test_e2e_pipeline_stages_compose(spark):
    """The composed filter→exact-dedup→near-dup pipeline keeps exactly
    the quality-passing, canonical, non-near-dup docs."""
    from victoriametrics_spark.operators.dedup import (
        exact_dedup,
        minhash_near_dup_pairs,
        near_dup_keep_list,
    )
    from victoriametrics_spark.operators.text import char_entropy, tokens

    long_a = " ".join(f"tok{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, long_a, "en"),       # kept (canonical of the exact pair)
            (2, long_a, "en"),       # exact dup of 1 → dropped
            (3, "short doc", "en"),  # fails the token filter
            (4, " ".join(f"tok{i}" for i in range(29)) + " tokX", "fr"),
            # 4 is a near-dup of 1 (29/31 shingles shared) → dropped by
            # the keep-list in favor of min-id 1
        ],
        ["doc_id", "text", "lang"],
    )
    ent = char_entropy(df).select("doc_id", "entropy_bits")
    q = (
        df.withColumn("__nt", F.size(tokens(F.col("text"))))
        .join(ent, "doc_id")
        .filter((F.col("__nt") >= 25) & (F.col("entropy_bits") >= 3.0))
    )
    kept = exact_dedup(q, ["text"], "doc_id")
    pairs = minhash_near_dup_pairs(
        kept, "doc_id", "text", n=3, k=9, band_size=3, threshold=0.5
    )
    final = near_dup_keep_list(kept, pairs)
    assert sorted(r["doc_id"] for r in final.collect()) == [1]


def test_source_ngram_overlap(spark):
    """Hand-checked contamination matrix: A∩B share 1 of their 8-grams,
    C is disjoint; symmetric ordering source_a < source_b."""
    from victoriametrics_spark.operators.dedup import source_ngram_overlap

    seq = " ".join(f"w{i}" for i in range(8))          # one 8-gram
    other = " ".join(f"x{i}" for i in range(9))        # two 8-grams
    df = spark.createDataFrame(
        [
            (1, seq, "A"),
            (2, seq + " tail1 tail2", "B"),  # 3 grams, shares `seq`
            (3, other, "C"),
        ],
        ["doc_id", "text", "source"],
    )
    out = source_ngram_overlap(df, n=8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("A", "B")
    assert r["grams_a"] == 1 and r["grams_b"] == 3
    assert r["shared_grams"] == 1
    assert r["jaccard"] == pytest.approx(1 / 3, abs=1e-6)


def test_line_signals(spark):
    """Known line shapes: punctuation fraction, uniqueness, mean
    length; blank lines drop; empty docs produce no row."""
    from victoriametrics_spark.operators.text import line_signals

    df = spark.createDataFrame(
        [
            (1, "Hello there.\nsecond line\nHello there.\n\n  \n"),
            (2, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in line_signals(df).collect()}
    assert set(out) == {1}
    r = out[1]
    assert r["n_lines"] == 3
    assert r["frac_punct_lines"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["frac_unique_lines"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["mean_line_len"] == pytest.approx(
        (12 + 11 + 12) / 3, abs=1e-6
    )


def test_cluster_stats_string_labels(spark):
    """label_col keeps the input's type — the per-source drift-monitor
    use case clusters by a STRING column."""
    from victoriametrics_spark.operators.knn import cluster_stats

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "web"),
            (2, [1.0, 0.0], "web"),
            (3, [0.0, 1.0], "books"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    out = {r["label"]: r for r in cluster_stats(df).collect()}
    assert set(out) == {"web", "books"}
    assert out["web"]["n"] == 2 and out["web"]["inertia"] == 0.0


def test_sessionize_window_batch_parity(spark, sf_dir):
    """The native session_window formulation must produce the SAME
    session set (user, start, end, n, duration) as the lag+cumsum
    sessionize on the real events table."""
    from victoriametrics_spark.operators.events import (
        sessionize,
        sessionize_window,
    )

    ev = load_table(spark, sf_dir, "events")
    gap = 6 * 3600 * 1000
    a = {
        (r["user_id"], r["start_ms"], r["end_ms"], r["n_events"],
         r["duration_ms"])
        for r in sessionize(ev, gap_ms=gap).collect()
    }
    b = {
        (r["user_id"], r["start_ms"], r["end_ms"], r["n_events"],
         r["duration_ms"])
        for r in sessionize_window(ev, gap_ms=gap).collect()
    }
    assert a == b and a


def test_pq_knn_recall_and_code_shape(embs):
    """PQ ADC top-10 must overlap the exact cosine... well, ADC ranks
    by L2 — compare against exact L2 top-10: with 8x8 codebooks over
    this corpus recall@10 should be substantial; codes are m ints in
    [0, k)."""
    from victoriametrics_spark.operators.knn import (
        pq_codebooks,
        pq_encode,
        pq_knn_topk,
    )

    q = embs.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = embs.filter(F.col("vec_id") != 0)
    q = [float(x) for x in q]

    books = pq_codebooks(rest, m=8, k=8)
    assert len(books) == 8 and all(len(b) == 8 for b in books)
    assert all(len(c) == 8 for b in books for c in b)

    codes = pq_encode(rest, books).collect()
    assert all(
        len(r["codes"]) == 8 and all(0 <= c < 8 for c in r["codes"])
        for r in codes
    )

    out = pq_knn_topk(rest, q, topk=10).collect()
    assert len(out) == 10
    dists = [r["adc_dist"] for r in out]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)


def test_pq_knn_recall_on_clustered_corpus(spark):
    """On a corpus with real cluster structure (which is when one
    deploys PQ), ADC top-k retrieves the query's own cluster: all 10
    nearest-by-ADC of a cluster-0 query are cluster-0 members, and
    recall@10 vs exact L2 is high."""
    import random

    from pyspark.sql import functions as SF

    from victoriametrics_spark.operators.knn import pq_knn_topk

    rng = random.Random(11)
    rows = []
    centers = [[float(5 * ((c >> b) & 1)) for b in range(16)] for c in range(4)]
    vid = 0
    for c, center in enumerate(centers):
        for _ in range(40):
            vid += 1
            rows.append(
                (vid, c, [x + rng.gauss(0, 0.3) for x in center])
            )
    df = spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<float>"
    )
    q = [x + 0.1 for x in centers[0]]
    got = pq_knn_topk(df, q, topk=10, m=8, k=8).collect()
    clusters = {
        r["cluster"]
        for r in df.join(
            spark.createDataFrame(
                [(r["vec_id"],) for r in got], "vec_id long"
            ),
            "vec_id",
        ).collect()
    }
    assert clusters == {0}
    qa = SF.array(*[SF.lit(float(x)) for x in q])
    l2 = SF.aggregate(
        SF.zip_with(
            SF.col("embedding"), qa,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        SF.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = {
        r["vec_id"]
        for r in df.select("vec_id", l2.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    }
    approx = {r["vec_id"] for r in got}
    assert len(approx & exact) >= 5


# ----------------------------------------------- round 11: events + winnowing
def test_retention_cohorts(spark):
    from victoriametrics_spark.operators.events import retention_cohorts

    DAY = 86_400_000
    rows = []
    # user 1: days 0, 1, 3; user 2: days 0, 3; user 3: day 1 only
    for uid, d in [(1, 0), (1, 1), (1, 3), (2, 0), (2, 3), (3, 1)]:
        rows.append((uid, d * DAY + 5_000))
    df = spark.createDataFrame(rows, "user_id long, ts_ms long").select(
        "user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts")
    )
    out = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    assert out == {
        (0, 0): 2,  # users 1, 2 cohort day 0
        (0, 1): 1,  # user 1 back on day 1
        (0, 3): 2,  # users 1, 2 back on day 3
        (1, 0): 1,  # user 3 cohort day 1
    }


def test_rolling_active_users(spark):
    from victoriametrics_spark.operators.events import rolling_active_users

    DAY = 86_400_000
    rows = [(1, 0), (2, 0), (1, 2), (3, 9)]
    df = spark.createDataFrame(
        [(u, d * DAY) for u, d in rows], "user_id long, ts_ms long"
    ).select("user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts"))
    out = {
        r["obs_day"]: r["active_users"]
        for r in rolling_active_users(df, window_days=3).collect()
    }
    # day-0 activity {u1,u2} covers obs days 0-2; u1's day-2 activity
    # covers 2-4 (already counted on day 2); u3's day 9 covers 9-11
    assert out == {
        0: 2, 1: 2, 2: 2, 3: 1, 4: 1, 9: 1, 10: 1, 11: 1,
    }


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. 2003 thm 1): two docs
    sharing a token run of >= w+k-1 tokens share >= 1 fingerprint;
    distinct texts fingerprint differently; short docs are excluded."""
    from victoriametrics_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    docs = [
        (1, "intro words here " + shared + " trailing bits"),
        (2, shared + " completely different ending material now"),
        (3, "no overlap with anything else in this corpus at all"),
        (4, "tiny doc"),  # < k tokens → excluded
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = winnow_fingerprints(df, k=5, w=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    # explicit fingerprint sets: recompute and intersect
    from pyspark.sql import functions as SF
    from victoriametrics_spark.operators.text import tokens

    def fps(text):
        toks = [t for t in text.split() if t]
        import hashlib

        grams = [
            hashlib.md5(" ".join(toks[i : i + 5]).encode()).hexdigest()
            for i in range(len(toks) - 4)
        ]
        w = 4
        n = len(grams)
        wins = max(n - w + 1, 1)
        return set(min(grams[j : j + min(w, n)]) for j in range(wins))

    f1, f2, f3 = fps(docs[0][1]), fps(docs[1][1]), fps(docs[2][1])
    assert f1 & f2, "shared 10-token run must share a fingerprint (w+k-1=8)"
    assert not (f1 & f3)
    # the Spark md5-set digest matches the reference python recompute
    import hashlib

    assert rows[1]["fp_set_md5"] == hashlib.md5(
        "|".join(sorted(f1)).encode()
    ).hexdigest()
    assert rows[1]["n_fingerprints"] == len(f1)
