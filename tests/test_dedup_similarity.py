"""Semantic sanity tests for the dedup/similarity families — beyond the
oracle value checks: LSH recall vs brute force, label agreement for
similarity search, exact-dedup behavior on constructed duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import load_table
from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_dedup,
    shingle_rows,
)
from crypto_data_pipeline_with_kafka_spark.operators.similarity import brute_force_topk
from crypto_data_pipeline_with_kafka_spark.multimodal import (
    attach_binary_payload,
    decode_images,
)

SF = "/root/testdata/sf0.01"


def test_exact_dedup_finds_constructed_dups(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    groups = exact_dedup_groups(docs.unionByName(dup))
    assert groups.filter("n_dups = 2").count() == 50
    # canonical id is the original (min) id
    assert groups.filter("canonical_id >= 100000").count() == 0


def test_minhash_lsh_recall_vs_exact(spark):
    """Every LSH-confirmed pair is a true near-dup, and recall on this
    corpus is high (banded 12-hash signatures at jaccard ≥ 0.8)."""
    docs = load_table(spark, SF, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(shingle_rows(docs), min_jaccard=0.8).collect()
    }
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_dedup(docs, min_jaccard=0.8).collect()}
    assert lsh <= exact  # verify stage guarantees precision = 1
    assert len(exact) > 0
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_topk_matches_independent_numpy(spark):
    """Top-1 neighbor per query agrees with an independent numpy
    brute-force (float64 cosine) — validates the decimal-exact pipeline
    end to end, not just cross-engine consistency.

    (The fixture's ``label`` column is NOT cosine-geometric — nearest
    neighbors land at cosine ≈ 0.37 across labels — so label agreement
    is not a usable oracle; numpy is.)"""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    top1 = {r.id_a: (r.id_b, r.cosine) for r in brute_force_topk(emb, 50, k=1).collect()}

    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].map(np.asarray).values).astype("float64")
    ids = pdf["vec_id"].values
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    np.fill_diagonal(sims, -2)
    for q in range(50):
        qi = int(np.where(ids == q)[0][0])
        best = int(ids[np.argmax(sims[qi])])
        got_id, got_cos = top1[q]
        assert got_id == best, (q, got_id, best)
        assert abs(got_cos - sims[qi].max()) < 1e-9


def test_multimodal_decode_plumbing(spark):
    docs = load_table(spark, SF, "documents")
    decoded = decode_images(attach_binary_payload(docs))
    rows = decoded.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r.format in ("png", "jpeg")
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert r.channels in (3, 4)


def test_multimodal_decode_real_ppm_bmp(spark):
    """decoder="real" (r5): REAL image bytes — binary PPM/PGM and an
    uncompressed 24-bpp BMP built here byte-by-byte — ride the same
    mapInPandas pipeline, and the parsed (format, width, height,
    channels) are the planted ground truth. Corrupt payloads must fail
    the decode loudly, and compressed formats stay NotImplementedError
    (no codecs in this container — decode_image_real documents the
    PIL/libvips swap slot)."""
    import struct

    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.multimodal import decode_image_real

    ppm = b"P6\n# planted by the test\n6 4\n255\n" + bytes(6 * 4 * 3)
    pgm = b"P5 3 5 255 " + bytes(3 * 5)
    row = (7 * 3 + 3) // 4 * 4  # BMP rows pad to 4-byte boundaries
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54 + row * 2, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 7, 2, 1, 24, 0, row * 2, 0, 0, 0, 0)
        + bytes(row * 2)
    )
    rows = [(1, ppm), (2, pgm), (3, bmp)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary").withColumns(
        {"n_bytes": F.length("payload").cast("long"), "content_hash": F.md5("payload")}
    )
    got = {r.doc_id: r for r in decode_images(df, decoder="real").collect()}
    assert (got[1].format, got[1].width, got[1].height, got[1].channels) == ("ppm", 6, 4, 3)
    assert (got[2].format, got[2].width, got[2].height, got[2].channels) == ("pgm", 3, 5, 1)
    assert (got[3].format, got[3].width, got[3].height, got[3].channels) == ("bmp", 7, 2, 3)
    # byte metadata survives the Arrow hop unchanged
    assert got[1].n_bytes == len(ppm)

    with pytest.raises(ValueError):
        decode_image_real(b"P6 9 9 255 " + bytes(3))  # truncated raster
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG\r\n\x1a\n compressed")


def _wav_bytes(tag: int, channels: int, rate: int, bits: int, n_samples: int) -> bytes:
    import struct

    frame = channels * bits // 8
    data = bytes(n_samples * frame)
    fmt = struct.pack("<HHIIHH", tag, channels, rate, rate * frame, frame, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_multimodal_decode_real_wav(spark):
    """decode_audio (r5): REAL RIFF/WAVE bytes built field-by-field ride
    the Arrow stage and the parsed (rate, channels, bits, samples,
    duration) are the planted ground truth; truncated data chunks and
    compressed formats fail loudly."""
    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        decode_audio,
        decode_audio_real,
    )

    pcm = _wav_bytes(1, 2, 8000, 16, 4000)  # 16-bit stereo, 0.5 s
    flt = _wav_bytes(3, 1, 44100, 32, 441)  # float mono, 10 ms
    df = spark.createDataFrame(
        [(1, pcm), (2, flt)], "doc_id long, payload binary"
    ).withColumns(
        {"n_bytes": F.length("payload").cast("long"), "content_hash": F.md5("payload")}
    )
    got = {r.doc_id: r for r in decode_audio(df).collect()}
    assert (got[1].format, got[1].sample_rate, got[1].channels) == ("wav_pcm", 8000, 2)
    assert (got[1].bit_depth, got[1].n_samples, got[1].duration_sec) == (16, 4000, 0.5)
    assert (got[2].format, got[2].bit_depth, got[2].n_samples) == ("wav_float", 32, 441)

    truncated = _wav_bytes(1, 1, 8000, 16, 100)[:-50]
    with pytest.raises(ValueError, match="truncated"):
        decode_audio_real(truncated)
    with pytest.raises(NotImplementedError):
        decode_audio_real(b"ID3\x04\x00 an mp3 stream")
    with pytest.raises(NotImplementedError, match="format tag"):
        decode_audio_real(_wav_bytes(2, 1, 8000, 4, 10))  # ADPCM tag


def _y4m_bytes(w: int, h: int, n_frames: int, colorspace: bytes = b"420jpeg") -> bytes:
    frame_bytes = {b"4": w * h * 3 // 2, b"m": w * h}[colorspace[:1]]
    if colorspace.startswith(b"422"):
        frame_bytes = w * h * 2
    elif colorspace.startswith(b"444"):
        frame_bytes = w * h * 3
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C%s\n" % (w, h, colorspace)
    for i in range(n_frames):
        # fill the luma plane with the frame index so sampled frames are
        # distinguishable; chroma stays zero
        out += b"FRAME\n" + bytes([i] * (w * h)) + bytes(frame_bytes - w * h)
    return out


def test_multimodal_video_frame_sampling(spark):
    """sample_video_frames (r5): REAL y4m bytes → every-Nth frame rows
    whose PGM payloads the image decoder then parses — the video surface
    composing with the image surface. decode_video counts frames by
    walking the stream; torn streams fail loudly."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        decode_image_real,
        decode_video,
        parse_video_real,
        sample_video_frames,
    )

    import pyspark.sql.functions as F

    vid = _y4m_bytes(6, 4, 7)
    mono = _y4m_bytes(3, 2, 2, colorspace=b"mono")
    df = spark.createDataFrame(
        [(1, vid), (2, mono)], "doc_id long, payload binary"
    ).withColumns(
        {"n_bytes": F.length("payload").cast("long"), "content_hash": F.md5("payload")}
    )
    meta = {r.doc_id: r for r in decode_video(df).collect()}
    assert (meta[1].width, meta[1].height, meta[1].fps, meta[1].n_frames) == (6, 4, 25.0, 7)
    assert (meta[2].width, meta[2].n_frames) == (3, 2)

    frames_df = sample_video_frames(df.filter("doc_id = 1"), every_nth=3)
    frames = frames_df.collect()
    assert sorted(r.frame_idx for r in frames) == [0, 3, 6]
    for r in frames:
        fmt, w, h, ch = decode_image_real(bytes(r.payload))
        assert (fmt, w, h, ch) == ("pgm", 6, 4, 1)
        # luma plane carries the planted frame index
        assert bytes(r.payload)[-1] == r.frame_idx

    # the advertised composition: sampled frames ride the image decode
    # stage AS A DATAFRAME (schema contract, not just payload bytes)
    composed = decode_images(frames_df, decoder="real").collect()
    assert len(composed) == 3
    assert all((r.format, r.width, r.height, r.channels) == ("pgm", 6, 4, 1)
               for r in composed)

    with pytest.raises(ValueError, match="truncated"):
        parse_video_real(vid[:-5])
    with pytest.raises(NotImplementedError):
        parse_video_real(b"\x00\x00\x00 ftypmp42 an mp4")
    with pytest.raises(NotImplementedError, match="bit depth"):
        parse_video_real(b"YUV4MPEG2 W4 H2 F25:1 C420p10\n")


def test_chunk_level_dedup_semantics(spark):
    """chunk_level_dedup (r5): aligned chunks shared across >= min_docs
    docs are dropped while the rest of each doc survives IN ORDER; a doc
    that is pure boilerplate disappears; a doc sharing text that does
    NOT align on chunk boundaries keeps it (the documented fixed-chunk
    trade)."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        chunk_level_dedup,
    )

    boiler = "the quick brown fox"  # 4 words = one aligned chunk at K=4
    docs = [
        (1, f"{boiler} alpha beta gamma delta"),          # boiler + unique chunk
        (2, f"{boiler} epsilon zeta eta theta"),          # boiler + unique chunk
        (3, boiler),                                      # pure boilerplate
        (4, f"pad {boiler} iota kappa"),                  # misaligned copy survives
        (5, None),                                        # NULL text skipped
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in chunk_level_dedup(df, words_per_chunk=4).collect()}
    assert set(got) == {1, 2, 4}  # doc 3 vanished, doc 5 skipped
    assert got[1].clean_text == "alpha beta gamma delta"
    assert got[2].clean_text == "epsilon zeta eta theta"
    assert (got[1].n_kept, got[1].n_total) == (1, 2)
    # misaligned: doc 4's chunks are "pad the quick brown" / "fox iota
    # kappa" — neither equals the boilerplate chunk, so all text stays
    assert got[4].clean_text == f"pad {boiler} iota kappa"
    assert got[4].n_kept == got[4].n_total == 2


def test_chunk_level_dedup_content_defined_boundaries(spark):
    """boundaries='content' (r8, the LBFS/CDC construction): chunk
    boundaries anchor to CONTENT, so the shared tail the fixed-chunk
    trade misses under a misaligned head IS caught; boundary positions
    match a sequential reference (md5-fraction mod rule + greedy min +
    max post-split); unique docs pass through verbatim; an edit only
    re-chunks its own neighborhood (chunks after the edit are
    position-independent)."""
    import hashlib

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        chunk_level_dedup,
    )

    W, DIV, MIN, MAX = 4, 8, 4, 32

    def ref_chunks(text):
        ws = text.split()
        n = len(ws)
        cand = []
        for b in range(W, n):  # boundary after token b; b == n forced later
            gram = " ".join(ws[b - W:b])
            h = int(hashlib.md5(gram.encode()).hexdigest()[:13], 16)
            if h % DIV == 0:
                cand.append(b)
        bnds, last = [], 0
        for b in cand:
            if b - last >= MIN:
                bnds.append(b)
                last = b
        allb = [0] + bnds + [n]
        out = []
        for s, e in zip(allb, allb[1:]):
            p = s
            while p < e:
                out.append(" ".join(ws[p:min(p + MAX, e)]))
                p += MAX
        return out

    tail = " ".join(f"cdt{j}" for j in range(60))
    d1 = " ".join(f"cda{j}" for j in range(17)) + " " + tail
    d2 = " ".join(f"cdb{j}" for j in range(3)) + " " + tail
    d3 = " ".join(f"cdu{j}" for j in range(45))
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r
        for r in chunk_level_dedup(
            df, min_docs=2, boundaries="content", cdc_window=W,
            cdc_divisor=DIV, cdc_min_words=MIN, cdc_max_words=MAX,
        ).collect()
    }
    # the misaligned shared tail is dropped from BOTH docs (fixed
    # chunking keeps it in both — pinned by the semantics test above);
    # the unique heads survive
    assert "cdt30" not in got[1].clean_text and "cda5" in got[1].clean_text
    assert "cdt30" not in got[2].clean_text and "cdb1" in got[2].clean_text
    # unique doc passes through verbatim, with reference chunk counts
    assert got[3].clean_text == d3
    assert got[3].n_total == len(ref_chunks(d3))
    # per-doc chunking matches the sequential reference exactly
    for doc_id, text in ((1, d1), (2, d2), (3, d3)):
        ref = ref_chunks(text)
        shared = set(ref_chunks(d1)) & set(ref_chunks(d2))
        kept_ref = [c for c in ref if c not in shared]
        assert got[doc_id].clean_text == " ".join(kept_ref)
        assert (got[doc_id].n_kept, got[doc_id].n_total) == (
            len(kept_ref), len(ref),
        )
    # shift independence: every chunk strictly after the edited head is
    # identical between the two tail-sharing docs
    c1, c2 = ref_chunks(d1), ref_chunks(d2)
    assert set(c1) & set(c2)  # the construction actually shares chunks

    # mode guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fixed.*content|content.*fixed"):
        chunk_level_dedup(df, boundaries="rolling")

    # threaded through curation: the same misaligned tail is stripped
    # by chunk_boundaries="content" (fixed keeps it — the trade the
    # operator-level assertions above pin)
    from crypto_data_pipeline_with_kafka_spark.curation import curate_corpus

    cur, st = curate_corpus(
        spark, df, chunk_dedup=True, chunk_boundaries="content",
        words_per_chunk=W, chunk_min_docs=2,
    )
    texts = {r.doc_id: r.text for r in cur.collect()}
    assert "cdt30" not in texts[1] and "cdt30" not in texts[2]
    assert st["chunkdedup_chunks_kept"] < st["chunkdedup_chunks_total"]


def test_jaccard_doc_freq_cap_is_precision_preserving(spark):
    """The max_doc_freq scale guard may lose pairs (recall) but must
    never invent them, and jaccard only under-estimates."""
    docs = load_table(spark, SF, "documents")
    sh = shingle_rows(docs)
    full = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(sh, min_jaccard=0.5).collect()}
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(sh, min_jaccard=0.5, max_doc_freq=50).collect()
    }
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert v <= full[k] + 1e-12


def test_all_pairs_cosine_guard_refuses_large_corpus(spark):
    """The O(n²) ground-truth baseline must fail LOUDLY past the corpus
    bound (the scale path is lsh_ann_pairs), and still work under it."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        all_pairs_cosine,
    )

    emb = load_table(spark, SF, "embeddings").limit(30)
    with pytest.raises(Exception, match="lsh_ann_pairs"):
        all_pairs_cosine(emb, max_corpus_rows=10).count()
    # under the bound the same plan runs clean
    assert all_pairs_cosine(emb, max_corpus_rows=30).count() >= 0


def test_ivf_ann_recall_precision_and_determinism(spark):
    """IVF ANN contract: every emitted pair is a true pair with the
    EXACT decimal cosine (precision 1.0 — the verify stage); recall on
    this clustered corpus beats the LSH twin's ~0.53; and the seeded
    centroid pick makes runs reproducible."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        all_pairs_cosine,
        ivf_ann_pairs,
    )

    emb = load_table(spark, SF, "embeddings")
    truth = {
        (r.id_a, r.id_b): r.cosine
        for r in all_pairs_cosine(emb, min_cosine=0.4).collect()
    }
    got = {(r.id_a, r.id_b): r.cosine for r in ivf_ann_pairs(emb).collect()}
    assert all(k in truth and truth[k] == v for k, v in got.items())  # bitwise
    recall = len(got) / len(truth)
    assert recall >= 0.6, f"IVF recall {recall:.2f} over {len(truth)} true pairs"
    again = {(r.id_a, r.id_b): r.cosine for r in ivf_ann_pairs(emb).collect()}
    assert got == again  # deterministic centroids -> reproducible output


def test_ivf_centroid_pick_plans_as_take_ordered(spark):
    """The seeded centroid sample must plan as TakeOrderedAndProject
    (partial top-C per partition) — a global Sort for C rows would be
    the scale bug."""
    import io
    from contextlib import redirect_stdout

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        ivf_assignments,
    )

    emb = load_table(spark, SF, "embeddings")
    buf = io.StringIO()
    with redirect_stdout(buf):
        ivf_assignments(emb).explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan


def test_ivf_assignment_plan_has_no_corpus_shuffle(spark):
    """The in-row top-P assignment must keep its zero-shuffle shape:
    the only exchange is the broadcast of the packed O(C) centroid row,
    and the only Window is the centroid rank over the C picked rows —
    a hash-partitioned exchange or a per-vector Window would mean the
    plan regressed to shuffling corpus×C rows."""
    import io
    from contextlib import redirect_stdout

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        ivf_assignments,
    )

    emb = load_table(spark, SF, "embeddings")
    buf = io.StringIO()
    with redirect_stdout(buf):
        ivf_assignments(emb).explain("simple")
    plan = buf.getvalue()
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Window") == 1, plan
    assert "BroadcastExchange" in plan, plan


def test_chunk_documents_invariants(spark):
    """Chunking contract: short docs pass through as one normalized
    chunk; long docs split into ≤max_tokens chunks whose non-overlap
    parts reconstruct the original token stream; consecutive chunks
    share exactly `overlap` tokens."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import chunk_documents

    docs = load_table(spark, SF, "documents").limit(20)
    one = chunk_documents(docs, max_tokens=10_000, overlap=64)
    assert one.count() == 20
    assert one.filter("chunk_id != 0").count() == 0

    long_doc = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(1000)))], "doc_id long, text string"
    )
    ch = chunk_documents(long_doc, max_tokens=300, overlap=50).orderBy("chunk_id")
    rows = ch.collect()
    # stride 250: ceil((1000-50)/250) = 4 chunks
    assert [r.chunk_id for r in rows] == [0, 1, 2, 3]
    assert all(r.n_tokens <= 300 for r in rows)
    toks = [r.text.split(" ") for r in rows]
    # consecutive chunks overlap by exactly `overlap` tokens
    for a, b in zip(toks, toks[1:]):
        assert a[-50:] == b[:50]
    # non-overlap reconstruction = the original stream
    rebuilt = toks[0] + [t for c in toks[1:] for t in c[50:]]
    assert rebuilt == [f"w{i}" for i in range(1000)]


def test_simhash_long_doc_guard_and_chunk_remedy(spark):
    """A document past the packed-lane bound must fail LOUDLY (pointing
    at chunk_documents), and the documented remedy must actually work:
    chunked, the same corpus simhashes cleanly."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        chunk_documents,
        simhash_bits,
    )

    n = 17_000  # > 2^14 lane bound
    long_doc = spark.createDataFrame(
        [(1, " ".join(f"w{i % 97}" for i in range(n)))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="chunk_documents"):
        simhash_bits(long_doc).collect()
    chunked = chunk_documents(long_doc, max_tokens=8192, overlap=64).select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("doc_id"), "text"
    )
    sims = simhash_bits(chunked).collect()
    assert len(sims) == 3  # ceil((17000-64)/8128) = 3 chunks
    assert all(len(r.simhash) == 64 for r in sims)


def test_decontaminate_flags_overlap_with_benchmark(spark):
    """Decontamination contract: a verbatim copy of an eval item scores
    containment 1.0 even inside a much longer document (directional
    normalization); partial splices score the shared fraction; disjoint
    documents and sub-k documents never appear."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import decontaminate

    eval_text = " ".join(f"e{i}" for i in range(12))  # 9 distinct 4-shingles
    bench = spark.createDataFrame([(100, eval_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, eval_text),  # verbatim copy
            (2, " ".join(f"pad{i}" for i in range(50)) + " " + eval_text),  # embedded
            (3, " ".join(f"e{i}" for i in range(6)) + " other words here"),  # partial
            (4, " ".join(f"u{i}" for i in range(40))),  # disjoint
            (5, "too short"),  # sub-k: no shingles
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in decontaminate(
            corpus, bench, k=4, min_containment=0.1
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1].containment == 1.0 and out[1].n_bench == 9
    assert out[2].containment == 1.0  # whole eval item inside a long doc
    # doc 3 shares exactly the 3 shingles of e0..e5
    assert out[3].overlap == 3 and out[3].containment == 3 / 9
    # a strict threshold keeps only the full-containment docs
    strict = decontaminate(corpus, bench, k=4, min_containment=0.99)
    assert {r.doc_id for r in strict.collect()} == {1, 2}


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark relation is eval-set-sized: its shingles must reach
    the corpus by broadcast — a hash-partitioned exchange of the CORPUS
    shingles against the benchmark would shuffle the whole corpus to
    join a sublinear relation."""
    import io
    from contextlib import redirect_stdout

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import decontaminate

    corpus = load_table(spark, SF, "documents")
    bench = load_table(spark, SF, "documents").limit(5).select(
        "doc_id", F.concat_ws(" ", "text", "text").alias("text")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        decontaminate(corpus, bench).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan


def test_r15_share_hooks_leave_results_identical(spark):
    """The r15 redundant-pass hooks are pure plan rewrites: (a)
    decontaminate(benchmark_shingles=) — when the eval set is a slice
    of an already-shingled corpus, passing the filtered shingle
    relation must be value-identical to letting the operator re-shingle
    the slice (shingling is per-row, so filter-then-shingle ≡
    shingle-then-filter); (b) simhash_bits(caches=) hands back the
    persisted word-count relation for explicit release without touching
    the bits; (c) ivf_topk(serve_broadcast=False) — the big-serve
    escape from the forced re-rank broadcast — leaves the served
    ranking identical."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        decontaminate,
        shingle_rows,
        simhash_bits,
    )

    docs = load_table(spark, SF, "documents")
    # (a) benchmark_shingles hook
    sh = shingle_rows(docs, k=3)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    hooked = sorted(
        map(
            tuple,
            decontaminate(
                docs,
                bench,
                k=3,
                min_containment=0.3,
                corpus_shingles=sh,
                benchmark_shingles=sh.filter(F.col("doc_id") % 7 == 0),
            ).collect(),
        )
    )
    plain = sorted(
        map(
            tuple,
            decontaminate(docs, bench, k=3, min_containment=0.3).collect(),
        )
    )
    assert hooked == plain and len(plain) > 0

    # (b) simhash_bits caches= lifecycle
    caches: list = []
    with_handle = sorted(
        map(tuple, simhash_bits(docs, caches=caches).collect())
    )
    assert len(caches) == 1 and caches[0].is_cached
    bare = sorted(map(tuple, simhash_bits(docs).collect()))
    assert with_handle == bare and len(bare) > 0
    for c in caches:
        c.unpersist()
    assert not caches[0].is_cached

    # (b2, r16) the registered dedup_simhash query path wires caches=
    # end to end: every persisted relation the plan creates (the
    # word-count relation inside simhash_bits AND the signature
    # relation inside simhash_pairs) comes back through the out-param,
    # results are identical to the bare call, and unpersisting the
    # handles leaves nothing pinned.
    from crypto_data_pipeline_with_kafka_spark.plans.q_dedup import (
        dedup_simhash,
    )

    spark.catalog.clearCache()
    q_caches: list = []
    hooked_pairs = sorted(
        map(tuple, dedup_simhash(spark, SF, caches=q_caches).collect())
    )
    assert len(q_caches) == 2 and all(c.is_cached for c in q_caches)
    for c in q_caches:
        c.unpersist()
    assert not any(c.is_cached for c in q_caches)
    bare_pairs = sorted(map(tuple, dedup_simhash(spark, SF).collect()))
    assert hooked_pairs == bare_pairs and len(bare_pairs) > 0
    spark.catalog.clearCache()

    # (c) ivf_topk serve_broadcast escape
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        ivf_topk,
    )

    rows = [
        (i, [((i * 13 + j * 5) % 9 - 4) / 6.0 for j in range(64)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    ref = sorted(
        map(
            tuple,
            ivf_topk(
                base, query_ids_max=10, k=3, num_centroids=8, probes=3
            ).collect(),
        )
    )
    streamed = sorted(
        map(
            tuple,
            ivf_topk(
                base,
                query_ids_max=10,
                k=3,
                num_centroids=8,
                probes=3,
                serve_broadcast=False,
            ).collect(),
        )
    )
    assert streamed == ref and len(ref) > 0


def test_pii_counts_and_redaction(spark):
    """PII scrubbing contract: counts find each planted kind exactly
    once, redaction removes every match (so the redacted text counts
    zero), redaction is idempotent, and clean text passes through
    untouched."""
    from crypto_data_pipeline_with_kafka_spark.functions.text import (
        pii_counts,
        redact_pii,
    )

    dirty = (
        "contact me at jane.doe+x@example.org or https://ex.com/u?e=a@b.co "
        "call +1 (555) 123-4567 host 10.0.0.1 done"
    )
    clean = "just ordinary words with numbers 42 and dots. end"
    df = spark.createDataFrame([(1, dirty), (2, clean)], "id long, text string")

    counts = df.select("id", *[c.alias(k) for k, c in pii_counts("text").items()])
    got = {r.id: r.asDict() for r in counts.collect()}
    # counts are per-pattern INDEPENDENT (the URL-first ordering applies
    # to redaction only): the address inside the URL counts as both
    assert got[1]["email"] == 2
    assert got[1]["url"] == 1
    assert got[1]["phone"] == 1
    assert got[1]["ipv4"] == 1
    assert all(got[2][k] == 0 for k in ("email", "url", "phone", "ipv4"))

    red = df.select("id", redact_pii("text").alias("text"))
    r = {x.id: x.text for x in red.collect()}
    assert r[2] == clean  # untouched
    assert "example.org" not in r[1] and "555" not in r[1] and "10.0.0.1" not in r[1]
    # redacted text contains no residual matches, and redaction is idempotent
    recount = red.select(*[c.alias(k) for k, c in pii_counts("text").items()])
    assert all(v == 0 for row in recount.collect() for v in row.asDict().values())
    twice = {x.id: x.text for x in red.select("id", redact_pii("text").alias("text")).collect()}
    assert twice == r


def test_multimodal_resize_and_features_feed_ann(spark):
    """The resize and feature-extraction stages: binary survives the
    Arrow round-trip with the new dims recorded; extracted embeddings
    are deterministic and plug into the ANN operators unchanged."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        attach_binary_payload,
        extract_features,
        resize_images,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        ivf_ann_pairs,
    )

    docs = attach_binary_payload(load_table(spark, SF, "documents").limit(200))
    resized = resize_images(docs, 128, 96)
    rows = resized.collect()
    assert len(rows) == 200
    assert all(r.width == 128 and r.height == 96 for r in rows)
    assert all(bytes(r.payload).startswith(b"resized:128x96:") for r in rows)

    feats = extract_features(docs, dim=64)
    a = {r.vec_id: list(r.embedding) for r in feats.collect()}
    b = {r.vec_id: list(r.embedding) for r in extract_features(docs, dim=64).collect()}
    assert a == b and all(len(v) == 64 for v in a.values())  # deterministic
    # the multimodal → similarity bridge: ANN runs on extracted features
    pairs = ivf_ann_pairs(feats, num_centroids=8, probes=2, min_cosine=0.9)
    assert pairs.count() >= 0 and pairs.columns == ["id_a", "id_b", "cosine"]


def _best_earlier(pairs):
    from pyspark.sql import Window

    w = Window.partitionBy("id_b").orderBy(F.col("jaccard").desc(), F.col("id_a").asc())
    return {
        (r.id_b, r.id_a, round(r.jaccard, 12))
        for r in pairs.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .collect()
    }


def test_incremental_minhash_matches_one_shot_batch(spark, tmp_path):
    """Replaying the corpus as 3 id-ordered batches through the
    persisted band/shingle index flags EXACTLY the one-shot run's
    best-earlier-duplicate per doc (batching-invariance), and
    redelivering a batch (foreachBatch at-least-once) rewrites
    byte-identical flags — the per-batch_id overwrite + batch_id < N
    partition pruning makes the step idempotent."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    expected = _best_earlier(minhash_lsh_dedup(docs))

    store = str(tmp_path / "idx")
    got = set()
    per_batch = {}
    for b, (lo, hi) in enumerate([(0, 167), (167, 334), (334, 500)]):
        fl = incremental_minhash_dedup(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), store, b
        )
        per_batch[b] = {(r.doc_id, r.dup_of, round(r.jaccard, 12)) for r in fl.collect()}
        got |= per_batch[b]
    assert got == expected and expected  # fixtures contain real dups

    # redelivery: rerun batch 1 against the fully-written index
    fl1 = incremental_minhash_dedup(
        docs.filter((F.col("doc_id") >= 167) & (F.col("doc_id") < 334)), store, 1
    )
    assert {(r.doc_id, r.dup_of, round(r.jaccard, 12)) for r in fl1.collect()} == per_batch[1]


def _index_scans_under_hash_exchange(plan: str, store: str) -> list[str]:
    """FileScan lines of ``store``'s index whose nearest non-row-local
    ancestor in a ``treeString`` plan is a hash Exchange — i.e. index
    rows shuffled before any join pruned them."""
    import re

    nodes = []
    for line in plan.splitlines():
        m = re.search(r"[+:]- ", line)
        depth, text = (m.start() // 3 + 1, line[m.end():]) if m else (0, line)
        nodes.append((depth, re.sub(r"^\*\(\d+\) ", "", text.strip())))
    row_local = ("Project", "Filter", "ColumnarToRow", "InputAdapter",
                 "WholeStageCodegen")
    bad = []
    for i, (depth, text) in enumerate(nodes):
        if not (text.startswith("FileScan parquet") and store in text):
            continue
        j = i
        while True:
            j -= 1
            while j >= 0 and nodes[j][0] >= depth:
                j -= 1
            if j < 0:
                break
            depth, anc = nodes[j]
            if not anc.startswith(row_local):
                if anc.startswith("Exchange hashpartitioning"):
                    bad.append(text)
                break
    return bad


@pytest.mark.parametrize("family", ["minhash", "hamming", "winnow", "ivf"])
def test_incremental_flag_plan_broadcasts_batch_never_index(spark, tmp_path, family):
    """The 100-TB contract of the incremental step, for every store
    family: the arriving batch side is broadcast (BroadcastHashJoin /
    BroadcastExchange), the index parquet scans carry the batch_id
    partition filter, and no plan node hash-Exchanges the index scan —
    the index is read, never shuffled."""
    from crypto_data_pipeline_with_kafka_spark.operators._store_step import (
        store_flag_plan,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        _hamming_family,
        _minhash_family,
        _winnowing_family,
        incremental_hamming_dedup,
        incremental_minhash_dedup,
        incremental_winnowing_dedup,
        simhash_bits,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _seed_centroids,
        dbl_vector,
        incremental_ivf_update,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity.stores import (
        _ivf_family,
    )
    from tests.conftest import SF_SMOKE

    store = str(tmp_path / "idx")
    if family == "ivf":
        emb = load_table(spark, SF_SMOKE, "embeddings")
        cents = _seed_centroids(
            emb.select("vec_id", dbl_vector("embedding").alias("vdbl")), 8, "vec_id"
        ).localCheckpoint()
        incremental_ivf_update(emb.filter("vec_id % 2 = 0"), store, 0, centroids=cents)
        fam = _ivf_family(
            emb.filter("vec_id % 2 = 1"), spark.read.parquet(f"{store}/centroids"), None
        )
    else:
        docs = load_table(spark, SF_SMOKE, "documents")
        if family == "hamming":
            docs = simhash_bits(docs)
        first, make = {
            "minhash": (incremental_minhash_dedup, _minhash_family),
            "hamming": (incremental_hamming_dedup, _hamming_family),
            "winnow": (incremental_winnowing_dedup, _winnowing_family),
        }[family]
        first(docs.filter("doc_id < 250"), store, 0)
        fam = make(docs.filter("doc_id >= 250"))

    pins: list = []
    flagged, _ = store_flag_plan(spark, fam, store, 1, pins)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        flagged.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "Scan parquet" in plan
    # index reads prune on the batch_id partition directory
    assert "PartitionFilters: [isnotnull(batch_id" in plan, plan
    # the candidate join gets the batch side via BroadcastExchange; the
    # index scan feeds join probe sides directly
    assert "BroadcastExchange" in plan
    tree = flagged._jdf.queryExecution().executedPlan().treeString()
    assert _index_scans_under_hash_exchange(tree, store) == [], tree
    for df in pins:
        df.unpersist()


def test_lloyd_refined_centroids_match_python_reference(spark):
    """K-means refinement determinism: the Spark iteration (in-row
    argmax assignment, exact quantized-long sums, string-hopped mean
    cast) must reproduce a sequential pure-Python Lloyd run BITWISE —
    same seeded pick, same fold order, same truncation semantics. That
    equality is what makes refined-IVF results reproducible and
    cross-run stable like the rest of the module."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        lloyd_refined_centroids,
    )

    C, ROUNDS = 8, 2
    # deterministic subset: the 400 smallest vec_ids on BOTH sides (a
    # bare limit() has no contractual row order under repartitioning)
    emb = load_table(spark, SF, "embeddings").orderBy("vec_id").limit(400)
    got = {
        r.centroid_id: list(r.cvec)
        for r in lloyd_refined_centroids(emb, num_centroids=C, rounds=ROUNDS)
        .collect()
    }

    # ---- sequential reference, mirroring each documented operation
    tbl = sorted(
        pq.read_table(f"{SF}/embeddings.parquet").to_pylist(),
        key=lambda t: t["vec_id"],
    )[:400]
    rows = [(t["vec_id"], [float(x) for x in t["embedding"]]) for t in tbl]
    picked = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )[:C]
    cents = {i + 1: v for i, (_, v) in enumerate(picked)}

    def dotd(a, b):  # left fold, like F.aggregate(zip_with(...))
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    for _ in range(ROUNDS):
        cn2 = {cid: dotd(c, c) for cid, c in cents.items()}
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for _id, v in rows:
            best_cid, best_s = None, float("-inf")
            for cid in sorted(cents):  # packed array is cid-ascending
                s = dotd(v, cents[cid]) / math.sqrt(cn2[cid])
                if s > best_s:  # strict > keeps the smaller cid on ties
                    best_cid, best_s = cid, s
            q = [int(x * 1e12) for x in v]  # trunc toward zero
            if best_cid not in sums:
                sums[best_cid] = [0] * len(q)
                counts[best_cid] = 0
            counts[best_cid] += 1
            for i, qi in enumerate(q):
                sums[best_cid][i] += qi
        for cid in cents:
            if cid in sums:
                n = counts[cid]
                cents[cid] = [
                    (float(str(s)) / n) / 1e12 for s in sums[cid]
                ]

    assert set(got) == set(cents)
    for cid, vec in cents.items():
        assert got[cid] == vec, f"centroid {cid} diverged"


def test_lloyd_refinement_scales_to_high_dims(spark):
    """The positional (posexplode + groupBy(centroid, pos)) averaging
    must survive production embedding widths: dim AGG COLUMNS would be
    a codegen hazard at 512+, dim ROWS are not. Synthetic 512-dim
    vectors, value-checked against the same sequential reference
    arithmetic (exact quantized sums, string-hopped mean cast)."""
    import math

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        lloyd_refined_centroids,
    )

    DIM, N, C = 512, 60, 4
    # deterministic pseudo-random doubles with exact 2-decimal values
    data = [
        (i, [((i * 31 + j * 17) % 200 - 100) / 100.0 for j in range(DIM)])
        for i in range(N)
    ]
    emb = spark.createDataFrame(data, ["vec_id", "embedding"])
    got = {
        r.centroid_id: list(r.cvec)
        for r in lloyd_refined_centroids(emb, num_centroids=C, rounds=1).collect()
    }
    assert set(got) == set(range(1, C + 1))
    assert all(len(v) == DIM for v in got.values())

    import hashlib

    picked = sorted(
        data, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )[:C]
    cents = {i + 1: v for i, (_, v) in enumerate(picked)}

    def dotd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    cn2 = {cid: dotd(c, c) for cid, c in cents.items()}
    sums: dict[int, list[int]] = {}
    counts: dict[int, int] = {}
    for _id, v in data:
        best_cid, best_s = None, float("-inf")
        for cid in sorted(cents):
            s = dotd(v, cents[cid]) / math.sqrt(cn2[cid])
            if s > best_s:
                best_cid, best_s = cid, s
        q = [int(x * 1e12) for x in v]
        if best_cid not in sums:
            sums[best_cid] = [0] * DIM
            counts[best_cid] = 0
        counts[best_cid] += 1
        for i, qi in enumerate(q):
            sums[best_cid][i] += qi
    for cid in cents:
        if cid in sums:
            n = counts[cid]
            cents[cid] = [(float(str(s)) / n) / 1e12 for s in sums[cid]]
    for cid, vec in cents.items():
        assert got[cid] == vec, f"centroid {cid} diverged at dim={DIM}"


def test_ivf_lloyd_rounds_keep_precision(spark):
    """ivf_ann_pairs(lloyd_rounds=1): every emitted pair must still be
    a true pair with the exact decimal cosine (the verify stage is
    unchanged), and the refined run stays deterministic."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        all_pairs_cosine,
        ivf_ann_pairs,
    )

    emb = load_table(spark, SF, "embeddings").limit(300)
    truth = {
        (r.id_a, r.id_b): r.cosine
        for r in all_pairs_cosine(emb, min_cosine=0.4).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in ivf_ann_pairs(emb, lloyd_rounds=1).collect()
    }
    assert got, "refined IVF emitted no pairs"
    assert all(k in truth and truth[k] == v for k, v in got.items())


def test_ivf_topk_query_path(spark):
    """Query-path ANN (ivf_topk) vs the exact brute-force truth:
    returned cosines are bitwise the exact values on every overlapping
    pair (the re-score stage is the same exact-decimal fold), results
    are deterministic, recall rises with probe count (more cells = more
    candidates), clears a floor at the fixture's operating point, and
    Lloyd-refined centroids buy recall at the SAME probe count (the
    documented use of refinement)."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        brute_force_topk,
        ivf_topk,
        lloyd_refined_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    bf = {(r.id_a, r.id_b): r.cosine for r in brute_force_topk(emb, 20, 5).collect()}

    def run(probes, cents=None):
        return {
            (r.id_a, r.id_b): r.cosine
            for r in ivf_topk(
                emb, 20, 5, num_centroids=8, probes=probes, centroids=cents
            ).collect()
        }

    iv3 = run(3)
    # exactness: every overlapping pair carries the identical cosine
    for p in set(bf) & set(iv3):
        assert bf[p] == iv3[p], p
    # determinism
    assert iv3 == run(3)
    # per-query k results with rank 1..k
    from collections import Counter

    per_q = Counter(a for a, _ in iv3)
    assert all(v == 5 for v in per_q.values())
    # recall floor + monotonicity in probes
    r2 = len(set(bf) & set(run(2))) / len(bf)
    r3 = len(set(bf) & set(iv3)) / len(bf)
    r4 = len(set(bf) & set(run(4))) / len(bf)
    assert r3 >= 0.4, r3
    assert r2 <= r3 <= r4, (r2, r3, r4)
    # Lloyd refinement buys recall at equal probe count (small slack
    # for fixture regeneration)
    base = _ensure_ann_base(emb, "vec_id")
    cents = lloyd_refined_centroids(base, num_centroids=8, rounds=2, vec_col="vdbl")
    rl = len(set(bf) & set(run(3, cents))) / len(bf)
    assert rl >= r3 - 0.05, (rl, r3)


def test_ivf_index_persistence_roundtrip(spark, tmp_path):
    """save_ivf_index / load_ivf_index (r5): a trained IVF index
    (centroids + ranked probe assignments) written to the two-table
    parquet layout and read back drives ivf_topk to EXACTLY the results
    of the freshly-computed index, and a serve-time single-cell read of
    the assignments prunes to that cell's partition directory."""
    import re

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        ivf_assignments,
        ivf_topk,
        load_ivf_index,
        save_ivf_index,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = _ensure_ann_base(emb, "vec_id").persist()
    cents = _seed_centroids(base, 16, "vec_id")
    assigns = ivf_assignments(
        base, 16, probes=3, id_col="vec_id", vec_col="vdbl",
        centroids=cents, with_rank=True,
    )

    path = str(tmp_path / "ivf_index")
    save_ivf_index(cents, assigns, path)
    l_cents, l_assigns = load_ivf_index(spark, path)

    fresh = ivf_topk(base, k=5, num_centroids=16, probes=3, assignments=assigns)
    reloaded = ivf_topk(base, k=5, num_centroids=16, probes=3,
                        assignments=l_assigns)
    a = sorted(tuple(r) for r in fresh.collect())
    b = sorted(tuple(r) for r in reloaded.collect())
    assert a == b and len(a) > 0

    # loaded centroids are usable on the centroids= hook too
    via_cents = ivf_topk(base, k=5, num_centroids=16, probes=3,
                         centroids=l_cents)
    c = sorted(tuple(r) for r in via_cents.collect())
    assert c == a

    # serve-time inverted-list access: one cell's read is partition-pruned
    one_cell = spark.read.parquet(f"{path}/assignments").filter(
        "centroid_id = 3"
    )
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*centroid_id", plan), plan
    base.unpersist()


def test_cluster_survivors_keep_best_member(spark):
    """select_cluster_survivors picks the argmax-quality member per
    cluster (ties -> lowest id), independent of the min-id canonical."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        select_cluster_survivors,
    )

    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the much longer surviving copy of the document"),
            (3, "mid length copy here"),
            (10, "tie a"),
            (11, "tie b"),  # same length as 10 -> lowest id (10) wins
            (99, "singleton never clustered"),
        ],
        ["doc_id", "text"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        ["doc_id", "canonical_id"],
    )
    out = {
        r["cluster_id"]: (r["survivor_id"], r["quality"])
        for r in select_cluster_survivors(docs, clusters).collect()
    }
    assert out == {1: (2, 46.0), 10: (10, 5.0)}

    # custom quality column flips the winner
    from pyspark.sql import functions as F

    by_neg_len = select_cluster_survivors(
        docs, clusters, quality_col=-F.length("text")
    )
    got = {r["cluster_id"]: r["survivor_id"] for r in by_neg_len.collect()}
    assert got[1] == 1  # shortest now wins


def test_incremental_ivf_matches_one_shot_batch(spark, tmp_path):
    """incremental_ivf_update over 3 arriving batches ≡ the one-shot
    ivf_ann_pairs derivation at probes=1 with the same fixed centroids:
    per later-id best earlier match. Redelivering a batch is a no-op."""
    from crypto_data_pipeline_with_kafka_spark.catalog import load_table
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        incremental_ivf_update,
        ivf_ann_pairs,
        ivf_assignments,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store = str(tmp_path / "ivf_store")
    t = 0.2  # the synthetic vectors are near-orthogonal; 0.2 yields ~1.5k pairs

    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()

    # one-shot expected flags: orient pairs (id_a < id_b), best earlier
    # per id_b
    assigns = ivf_assignments(base, probes=1, vec_col="vdbl", centroids=cents)
    pairs = ivf_ann_pairs(base, probes=1, min_cosine=t, assignments=assigns)
    best = {}
    for r in pairs.collect():
        cur = best.get(r["id_b"])
        cand = (-r["cosine"], r["id_a"])
        if cur is None or cand < cur:
            best[r["id_b"]] = cand
    expected = {k: (v[1], round(-v[0], 9)) for k, v in best.items()}

    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + 2 * (hi - lo + 1) // 3, hi + 1]
    got = {}
    for b in range(3):
        batch = emb.filter(
            (F.col("vec_id") >= cuts[b]) & (F.col("vec_id") < cuts[b + 1])
        )
        flags = incremental_ivf_update(
            batch, store, b, centroids=cents if b == 0 else None, min_cosine=t
        )
        for r in flags.collect():
            got[r["vec_id"]] = (r["match_id"], round(r["cosine"], 9))

    assert got == expected and len(got) > 0

    # idempotency: redeliver batch 1 — same flags, index readable
    batch1 = emb.filter(
        (F.col("vec_id") >= cuts[1]) & (F.col("vec_id") < cuts[1 + 1])
    )
    re_flags = incremental_ivf_update(batch1, store, 1, min_cosine=t)
    re_got = {
        r["vec_id"]: (r["match_id"], round(r["cosine"], 9))
        for r in re_flags.collect()
    }
    assert re_got == {
        k: v for k, v in got.items() if cuts[1] <= k < cuts[2]
    }

    # an empty delivery is a no-op (and must NOT poison the cell store
    # with a parquet-less batch dir): flags empty, next batch still reads
    empty_flags = incremental_ivf_update(
        emb.filter(F.lit(False)), store, 3, min_cosine=t
    )
    assert empty_flags.count() == 0
    after = incremental_ivf_update(
        emb.filter(F.col("vec_id") == lo), store, 4, min_cosine=t
    )
    assert after.count() >= 0  # the index read still plans and runs


def test_image_ahash_near_dup_pairs(spark):
    """aHash image dedup: a lightly-noised copy pairs with its original
    at low hamming; a structurally different image does not. The Spark
    hash matches an independent sequential aHash recomputation."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        image_near_dup_pairs,
        perceptual_hash_images,
    )

    w = h = 32

    def pgm(pixels):
        return b"P5\n32 32\n255\n" + bytes(pixels)

    base = [min(255, 4 * (x + y)) for y in range(h) for x in range(w)]
    noisy = list(base)
    for k in range(0, len(noisy), 97):  # sparse small perturbations
        noisy[k] = min(255, noisy[k] + 2)
    inverted = [255 - p for p in base]
    rows = [(1, pgm(base)), (2, pgm(noisy)), (3, pgm(inverted))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    hashes = {r["doc_id"]: r["simhash"] for r in
              perceptual_hash_images(df).collect()}

    # independent reference aHash on the base image
    def ref_ahash(px):
        means = []
        for gy in range(8):
            for gx in range(8):
                cell = [
                    px[y * w + x]
                    for y in range(gy * 4, gy * 4 + 4)
                    for x in range(gx * 4, gx * 4 + 4)
                ]
                means.append(sum(cell) / len(cell))
        mu = sum(means) / 64
        return "".join("1" if m > mu else "0" for m in means)

    assert hashes[1] == ref_ahash(base)
    assert hashes[3] == ref_ahash(inverted)
    ham_12 = sum(a != b for a, b in zip(hashes[1], hashes[2]))
    ham_13 = sum(a != b for a, b in zip(hashes[1], hashes[3]))
    assert ham_12 <= 6 < ham_13

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_near_dup_pairs(df, max_hamming=6).collect()}
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] == ham_12

    # orientation + format invariance: the SAME raster as a bottom-up
    # BMP, a top-down BMP, and the PGM hash identically (BMP rows are
    # flipped to image order via the parser's orientation flag)
    import struct as _struct

    def bmp8(pixels, top_down):
        row = (w + 3) // 4 * 4
        hh = -h if top_down else h
        rows_img = [pixels[y * w:(y + 1) * w] for y in range(h)]
        stored = rows_img if top_down else rows_img[::-1]
        raster = b"".join(bytes(r) + bytes(row - w) for r in stored)
        return (b"BM" + _struct.pack("<IHHI", 54 + row * h, 0, 0, 54)
                + _struct.pack("<IiiHHIIiiII", 40, w, hh, 1, 8, 0, row * h,
                               0, 0, 0, 0) + raster)

    tri = spark.createDataFrame(
        [(10, pgm(base)), (11, bmp8(base, False)), (12, bmp8(base, True))],
        "doc_id long, payload binary",
    )
    tri_hashes = {r["doc_id"]: r["simhash"]
                  for r in perceptual_hash_images(tri).collect()}
    assert tri_hashes[10] == tri_hashes[11] == tri_hashes[12]

    # non-default id column works (the closure reads the aliased name)
    renamed = df.withColumnRenamed("doc_id", "img_id")
    got = perceptual_hash_images(renamed, id_col="img_id").count()
    assert got == 3


def _wav16(samples, rate=8000):
    """Minimal RIFF/WAVE, 16-bit PCM mono."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_audio_fingerprint_near_dup_pairs(spark, tmp_path):
    """Frame-energy audio fingerprints: a lightly-noised re-take pairs
    with its original at low hamming, a different loudness contour does
    not; the Spark hash matches an independent sequential recomputation;
    and the fingerprints flow through BOTH the in-batch hamming join
    and the cross-run incremental store — the third modality on the
    modality-agnostic engine (text SimHash, image aHash, now audio)."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        audio_near_dup_pairs,
        perceptual_hash_audio,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
    )

    # 64 frames x 128 samples; loud frames (amplitude 1000) on a fixed
    # pattern, quiet elsewhere (amplitude 10), alternating sign
    loud = {s for s in range(64) if s % 3 == 0}

    def tone(loud_set):
        out = []
        for s in range(64):
            amp = 1000 if s in loud_set else 10
            out.extend(amp if i % 2 == 0 else -amp for i in range(128))
        return out

    base = tone(loud)
    noisy = list(base)
    for k in range(0, len(noisy), 97):  # sparse 1-LSB perturbations
        noisy[k] += 1
    different = tone({s for s in range(64) if s % 3 != 0})
    rows = [(1, _wav16(base)), (2, _wav16(noisy)), (3, _wav16(different))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    got = {r.doc_id: r for r in perceptual_hash_audio(df).collect()}
    assert got[1].sample_rate == 8000 and got[1].n_samples == 64 * 128

    # independent sequential recomputation of the base fingerprint
    # (the v3 rule: 256 hop-grid frames of 4-hop length, global-mean
    # threshold, strict-majority 4:1 fold)
    def ref_fp(samples):
        n = len(samples)
        flen = max(1, 4 * n // 256)
        means = []
        for s in range(256):
            i0 = s * n // 256
            i1 = min(n, i0 + flen)
            if i1 <= i0:
                i1 = i0 + 1
            seg = samples[i0:i1]
            means.append(sum(abs(v) for v in seg) / len(seg))
        mu = sum(means) / 256.0
        bits = [1 if m > mu else 0 for m in means]
        return "".join(
            "1" if sum(bits[4 * k : 4 * k + 4]) >= 3 else "0"
            for k in range(64)
        )

    assert got[1].simhash == ref_fp(base)
    assert got[3].simhash == ref_fp(different)
    ham_12 = sum(a != b for a, b in zip(got[1].simhash, got[2].simhash))
    ham_13 = sum(a != b for a, b in zip(got[1].simhash, got[3].simhash))
    assert ham_12 <= 6 < ham_13

    # in-batch pairing: only the near-dup pair survives
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in audio_near_dup_pairs(df, max_hamming=6).collect()
    }
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] == ham_12

    # cross-run store path: index the original, then a later run's
    # re-take is flagged against it while the different contour is not
    store = str(tmp_path / "audio_store")
    first = incremental_hamming_dedup(
        perceptual_hash_audio(df.filter("doc_id = 1")), store, 0
    )
    assert first.isEmpty()
    flagged = incremental_hamming_dedup(
        perceptual_hash_audio(df.filter("doc_id >= 2")), store, 1
    )
    assert [(r.doc_id, r.dup_of, r.hamming) for r in flagged.collect()] == [
        (2, 1, ham_12)
    ]

    # honest codec boundary: compressed tags refuse loudly
    import struct as _struct

    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    bad_fmt = _struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 4)  # ADPCM
    bad = (
        b"RIFF" + _struct.pack("<I", 28) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16) + bad_fmt
        + b"data" + _struct.pack("<I", 0)
    )
    baddf = spark.createDataFrame([(9, bad)], "doc_id long, payload binary")
    with pytest.raises((Py4JJavaError, PySparkException), match="compressed codec"):
        perceptual_hash_audio(baddf).collect()


def test_video_temporal_majority_near_dup_pairs(spark, tmp_path):
    """Temporal-majority video aHash: a noisy re-encode pairs with its
    original (even with one wholesale-edited frame — the majority
    absorbs a minority of flipped frames), inverted footage does not;
    the Spark hash matches an independent sequential recomputation of
    the v2-pgate rule (a frame votes iff the md5 fraction of its AHASH
    BITS ≡ 0 mod every_nth, topped up by smallest key to the minimum
    quota); and the fingerprints run the cross-run hamming store — the
    fourth modality on the shared engine."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        perceptual_hash_video,
        video_near_dup_pairs,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
    )

    w = h = 32

    def y4m(frames):
        out = b"YUV4MPEG2 W32 H32 F25:1 Ip A1:1 Cmono\n"
        for f in frames:
            out += b"FRAME\n" + bytes(f)
        return out

    grad = [min(255, 4 * (x + y)) for y in range(h) for x in range(w)]
    inv = [255 - p for p in grad]

    def jitter(frame, i):  # per-frame variation, hash-stable
        out = list(frame)
        for p in range(i, len(out), 113):
            out[p] = min(255, out[p] + 1)
        return out

    base_frames = [jitter(grad, i) for i in range(5)]
    noisy_frames = []
    for i, f in enumerate(base_frames):
        nf = list(f)
        for p in range(0, len(nf), 97):
            nf[p] = min(255, nf[p] + 2)
        noisy_frames.append(nf)
    # one wholesale-edited frame: these 5-frame videos sit under the
    # minimum-voter quota, so every frame (the edited one included)
    # votes and the majority absorbs it as a true minority
    noisy_frames[2] = list(inv)
    diff_frames = [jitter(inv, i) for i in range(5)]

    df = spark.createDataFrame(
        [(1, y4m(base_frames)), (2, y4m(noisy_frames)), (3, y4m(diff_frames))],
        "doc_id long, payload binary",
    )
    got = {
        r.doc_id: r for r in perceptual_hash_video(df, every_nth=2).collect()
    }

    # independent sequential recomputation of the v2 rule: per-frame
    # aHash; a frame votes iff the md5 fraction of its AHASH BITS ≡ 0
    # mod every_nth, topped up by smallest key to the quota
    # min(n, max(VIDEO_FP_MIN_VOTERS, ceil(n/every_nth))); strict
    # majority over the voters
    import hashlib as _hl
    import math as _math

    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        VIDEO_FP_MIN_VOTERS,
    )

    def ref_ahash(px):
        means = []
        for gy in range(8):
            for gx in range(8):
                cell = [
                    px[y * w + x]
                    for y in range(gy * 4, gy * 4 + 4)
                    for x in range(gx * 4, gx * 4 + 4)
                ]
                means.append(sum(cell) / len(cell))
        mu = sum(means) / 64
        return ["1" if m > mu else "0" for m in means]

    def sel(frames, n=2):
        ks = []
        for f in frames:
            bits = "".join(ref_ahash(f))
            ks.append((int(_hl.md5(bits.encode()).hexdigest()[:13], 16), bits))
        quota = min(
            len(frames),
            max(VIDEO_FP_MIN_VOTERS, _math.ceil(len(frames) / n)),
        )
        g = sum(1 for k, _ in ks if k % n == 0)
        order = sorted(
            range(len(frames)),
            key=lambda i: (0 if ks[i][0] % n == 0 else 1, ks[i][0], ks[i][1]),
        )
        return sorted(order[: max(g, quota)])

    def ref_video(frames):
        idxs = sel(frames)
        sampled = [ref_ahash(frames[i]) for i in idxs]
        return "".join(
            "1"
            if sum(int(s[k]) for s in sampled) * 2 > len(sampled)
            else "0"
            for k in range(64)
        )

    # 5-frame videos sit under the minimum-voter quota, so all frames
    # vote — the edited frame 2 is a true absorbed minority
    assert [got[d].n_frames_hashed for d in (1, 2, 3)] == [
        len(sel(f)) for f in (base_frames, noisy_frames, diff_frames)
    ] == [5, 5, 5]
    assert got[1].simhash == ref_video(base_frames)
    assert got[3].simhash == ref_video(diff_frames)
    ham_12 = sum(a != b for a, b in zip(got[1].simhash, got[2].simhash))
    ham_13 = sum(a != b for a, b in zip(got[1].simhash, got[3].simhash))
    assert ham_12 <= 6 < ham_13

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in video_near_dup_pairs(df, max_hamming=6, every_nth=2).collect()
    }
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] == ham_12

    # cross-run store: the original indexed by an earlier run, the
    # noisy re-encode flagged against it in a later run
    store = str(tmp_path / "video_store")
    assert incremental_hamming_dedup(
        perceptual_hash_video(df.filter("doc_id = 1"), every_nth=2), store, 0
    ).isEmpty()
    flagged = incremental_hamming_dedup(
        perceptual_hash_video(df.filter("doc_id >= 2"), every_nth=2), store, 1
    )
    assert [(r.doc_id, r.dup_of, r.hamming) for r in flagged.collect()] == [
        (2, 1, ham_12)
    ]


def test_video_fingerprint_shift_tolerance(spark, tmp_path):
    """VIDEO_FP_ALGO v2 (r10): a near-dup with a PREPENDED segment must
    still pair. v1 sampled every-Nth frame by ABSOLUTE index, so a
    3-frame prepend shifted the whole grid and sampled a DISJOINT frame
    set — on this planted alternating-scene pair the v1 rule reads
    hamming 57 (recomputed below), far past any sane max_hamming. v2's
    perceptually content-anchored voting (a frame votes iff the md5
    fraction of its AHASH BITS ≡ 0 mod every_nth, quota top-up below
    the minimum) keeps every originally-voting frame voting — the
    prepended copy selects the SAME frames shifted by 3 — so the
    fingerprints are bit-identical. The key is the aHash, not raw
    bytes, so a NOISY re-encode (no shift) also stays paired: each
    frame's membership follows its (noise-stable) aHash, and the rare
    frame whose aHash does flip re-draws only its own vote. Store path
    included; a v1-era stamped store refuses the v2 fingerprints
    loudly."""
    import hashlib as _hl

    import pytest

    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        VIDEO_FP_ALGO,
        perceptual_hash_video,
        video_near_dup_pairs,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
    )

    w = h = 32

    def y4m(frames):
        out = b"YUV4MPEG2 W32 H32 F25:1 Ip A1:1 Cmono\n"
        for f in frames:
            out += b"FRAME\n" + bytes(f)
        return out

    grad = [min(255, 4 * (x + y)) for y in range(h) for x in range(w)]
    inv = [255 - p for p in grad]

    def jitter(frame, i):
        out = list(frame)
        for p in range(i, len(out), 113):
            out[p] = min(255, out[p] + 1)
        return out

    def ref_ahash(px):
        means = []
        for gy in range(8):
            for gx in range(8):
                cell = [
                    px[y * w + x]
                    for y in range(gy * 4, gy * 4 + 4)
                    for x in range(gx * 4, gx * 4 + 4)
                ]
                means.append(sum(cell) / len(cell))
        mu = sum(means) / 64
        return ["1" if m > mu else "0" for m in means]

    def gate(f):
        bits = "".join(ref_ahash(f))
        return int(_hl.md5(bits.encode()).hexdigest()[:13], 16) % 2 == 0

    # alternating scenes — the content class where an index-grid shift
    # swaps WHICH scene dominates the sampled majority
    orig = [
        jitter(grad, i) if i % 2 == 0 else jitter(inv, i) for i in range(9)
    ]
    # prepended 3-frame segment, salted so the gate EXCLUDES all three
    # (asserted): the v2 guarantee under test is that every ORIGINAL
    # vote persists — an inserted segment that passes the gate
    # legitimately adds minority votes instead (any majority scheme's
    # near-tie bits are sensitive to added votes; v1's failure was
    # REMOVING the original votes wholesale)
    prepend = [
        jitter([min(255, p % 256) for p in grad], 50 + j) for j in range(3)
    ]
    assert not any(gate(f) for f in prepend)
    shifted = prepend + orig
    # noisy re-encode, NO shift: ±1 LSB at stride 61 — the case the
    # review killed the raw-byte gate over (every byte change re-drew
    # every frame's membership; the aHash key keeps it)
    noised = []
    for i, f in enumerate(orig):
        nf = list(f)
        for p in range(0, len(nf), 61):
            nf[p] = max(0, min(255, nf[p] + (1 if (i + p) % 2 else -1)))
        noised.append(nf)

    df = spark.createDataFrame(
        [(1, y4m(orig)), (2, y4m(shifted)), (3, y4m(noised))],
        "doc_id long, payload binary",
    )
    got = {
        r.doc_id: r for r in perceptual_hash_video(df, every_nth=2).collect()
    }
    assert got[1].simhash == got[2].simhash  # bit-identical under v2
    assert got[2].n_frames_hashed == got[1].n_frames_hashed
    ham_noise = sum(a != b for a, b in zip(got[1].simhash, got[3].simhash))
    assert ham_noise <= 2, ham_noise

    # the v1 rule on the same pair: every-2nd frame by absolute index,
    # recomputed sequentially — the planted failure the bump closes
    def fp_v1(frames):
        s = [ref_ahash(frames[i]) for i in range(0, len(frames), 2)]
        return "".join(
            "1" if sum(int(x[k]) for x in s) * 2 > len(s) else "0"
            for k in range(64)
        )

    ham_v1 = sum(a != b for a, b in zip(fp_v1(orig), fp_v1(shifted)))
    assert ham_v1 > 6, ham_v1  # the grid shift breaks the v1 pairing

    # one-shot pairing and the cross-run store both flag the pair
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in video_near_dup_pairs(df, max_hamming=6, every_nth=2).collect()
    }
    assert pairs == {(1, 2): 0, (1, 3): ham_noise, (2, 3): ham_noise}
    store = str(tmp_path / "video_store_v2")
    assert incremental_hamming_dedup(
        perceptual_hash_video(df.filter("doc_id = 1"), every_nth=2),
        store, 0, algo=VIDEO_FP_ALGO,
    ).isEmpty()
    flagged = incremental_hamming_dedup(
        perceptual_hash_video(df.filter("doc_id = 2"), every_nth=2),
        store, 1, algo=VIDEO_FP_ALGO,
    )
    assert [(r.doc_id, r.dup_of, r.hamming) for r in flagged.collect()] == [
        (2, 1, 0)
    ]
    # era contract: a store stamped by the OLD rule refuses v2
    # fingerprints instead of silently missing near-dups (plan-build
    # ValueError — check_store_algo runs driver-side)
    old_store = str(tmp_path / "video_store_v1_era")
    incremental_hamming_dedup(
        perceptual_hash_video(df.filter("doc_id = 1"), every_nth=2),
        old_store, 0, algo="video/temporal-majority-ahash/v1",
    ).isEmpty()
    with pytest.raises(ValueError, match="algorithm era"):
        incremental_hamming_dedup(
            perceptual_hash_video(df.filter("doc_id = 2"), every_nth=2),
            old_store, 1, algo=VIDEO_FP_ALGO,
        )


def test_audio_fingerprint_shift_tolerance(spark, tmp_path):
    """Temporal-shift robustness (r8): a re-take padded with leading
    silence (exact zeros AND a ±1-LSB noise floor) fingerprints
    IDENTICALLY to the original — the near-silence trim removes the
    pad before framing, so the absolute frame boundaries realign —
    and the padded copy pairs with the original through both the
    in-batch join and the cross-run store under the same max_hamming.
    All-silence audio still fingerprints (untrimmed fallback)."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        audio_near_dup_pairs,
        perceptual_hash_audio,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
    )

    # smooth deterministic envelope (NOT frame-aligned blocks — the
    # hard case for boundary shifts): 64 frames x 128 samples
    out, amp, x = [], 500, 7
    for s in range(64):
        x = (x * 1103515245 + 12345) % (2**31)
        amp = max(20, min(2000, amp + (x % 401) - 200))
        out.extend(amp if i % 2 == 0 else -amp for i in range(128))
    pad_zero = [0] * 100 + out
    pad_noise = [1 if i % 2 == 0 else -1 for i in range(100)] + out
    rows = [
        (1, _wav16(out)),
        (2, _wav16(pad_zero)),
        (3, _wav16(pad_noise)),
        (4, _wav16([0] * 256)),  # all silence: untrimmed fallback
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in perceptual_hash_audio(df).collect()}
    assert got[2].simhash == got[1].simhash
    assert got[3].simhash == got[1].simhash
    assert got[2].n_samples == 64 * 128 + 100  # decoded, not trimmed
    assert got[4].simhash == "0" * 64

    pairs = {
        (r.id_a, r.id_b)
        for r in audio_near_dup_pairs(
            df.filter("doc_id <= 3"), max_hamming=6
        ).collect()
    }
    assert pairs == {(1, 2), (1, 3), (2, 3)}

    # cross-run store: index the original, the padded re-take flags
    store = str(tmp_path / "audio_shift_store")
    assert incremental_hamming_dedup(
        perceptual_hash_audio(df.filter("doc_id = 1")), store, 0
    ).isEmpty()
    flagged = incremental_hamming_dedup(
        perceptual_hash_audio(df.filter("doc_id = 2")), store, 1
    )
    assert [(r.doc_id, r.dup_of, r.hamming) for r in flagged.collect()] == [
        (2, 1, 0)
    ]


def test_store_algo_stamp_refuses_era_mix(spark, tmp_path):
    """check_store_algo (r8, the manifest digest_algo idiom for the
    store family): a hamming store stamped with one hasher era refuses
    batches stamped with another; redelivery under the same stamp is
    fine; an unstamped pre-versioning store with an index refuses a
    stamped call; unstamped calls keep the old contract. The winnow
    store SELF-stamps its (k, window) — changing either against an
    existing store refuses instead of silently missing overlaps."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
        incremental_winnowing_dedup,
        simhash_bits,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    b0 = simhash_bits(docs.filter("doc_id < 20"))
    b1 = simhash_bits(docs.filter("doc_id >= 20 and doc_id < 40"))

    store = str(tmp_path / "stamped")
    incremental_hamming_dedup(b0, store, 0, algo="text/simhash-64/v1")
    # same era: fine (including a redelivery rewrite of the same batch)
    incremental_hamming_dedup(b1, store, 1, algo="text/simhash-64/v1")
    incremental_hamming_dedup(b1, store, 1, algo="text/simhash-64/v1")
    # different era: refused, naming both eras
    with pytest.raises(ValueError, match="v1.*v2|era"):
        incremental_hamming_dedup(b1, store, 2, algo="text/simhash-64/v2")

    # pre-versioning store (index, no marker) + stamped call: refused
    old = str(tmp_path / "unstamped")
    incremental_hamming_dedup(b0, old, 0)
    with pytest.raises(ValueError, match="no algorithm stamp"):
        incremental_hamming_dedup(b1, old, 1, algo="text/simhash-64/v1")
    # unstamped call on the unstamped store: the old contract holds
    incremental_hamming_dedup(b1, old, 1)

    # crashed first-stamp write (marker dir exists, no committed rows):
    # treated as absent, so redelivery self-heals instead of bricking
    import os

    crashed = str(tmp_path / "crashed")
    os.makedirs(f"{crashed}/algo/_temporary")
    incremental_hamming_dedup(b0, crashed, 0, algo="text/simhash-64/v1")
    incremental_hamming_dedup(b1, crashed, 1, algo="text/simhash-64/v1")
    with pytest.raises(ValueError, match="era"):
        incremental_hamming_dedup(b1, crashed, 2, algo="other/v9")

    # winnow self-stamp: k/window shape the fingerprints themselves
    wstore = str(tmp_path / "wn")
    d0 = docs.filter("doc_id < 20")
    incremental_winnowing_dedup(d0, wstore, 0, k=5, window=4)
    incremental_winnowing_dedup(
        docs.filter("doc_id >= 20 and doc_id < 40"), wstore, 1, k=5, window=4
    )
    with pytest.raises(ValueError, match="winnow/k=5/window=4"):
        incremental_winnowing_dedup(d0, wstore, 2, k=8, window=4)
    with pytest.raises(ValueError, match="winnow/k=5/window=4"):
        incremental_winnowing_dedup(d0, wstore, 2, k=5, window=6)

    # minhash self-stamp: (k, num_hashes, bands) shape the stored
    # shingles and band keys; min_jaccard stays a free read-side knob
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    mstore = str(tmp_path / "mh")
    incremental_minhash_dedup(d0, mstore, 0)
    incremental_minhash_dedup(
        docs.filter("doc_id >= 20 and doc_id < 40"), mstore, 1,
        min_jaccard=0.5,  # read-side: fine under the same stamp
    )
    with pytest.raises(ValueError, match="minhash/k=3/h=12/bands=4"):
        incremental_minhash_dedup(d0, mstore, 2, num_hashes=16)
    with pytest.raises(ValueError, match="minhash/k=3/h=12/bands=4"):
        incremental_minhash_dedup(d0, mstore, 2, k=5)


def test_video_hash_non_default_columns(spark):
    """perceptual_hash_video under non-default id_col/payload_col:
    identical output to the default names (r8 advice fix — the
    pre-select must alias BOTH columns before sample_video_frames,
    whose Arrow closure hard-reads 'doc_id'/'payload')."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        perceptual_hash_video,
    )

    w = h = 32

    def y4m(frames):
        out = b"YUV4MPEG2 W32 H32 F25:1 Ip A1:1 Cmono\n"
        for f in frames:
            out += b"FRAME\n" + bytes(f)
        return out

    grad = [min(255, 4 * (x + y)) for y in range(h) for x in range(w)]
    vid = y4m([grad] * 3)
    default = spark.createDataFrame(
        [(7, vid)], "doc_id long, payload binary"
    )
    renamed = spark.createDataFrame(
        [(7, vid)], "vid_id long, blob binary"
    )
    want = [
        tuple(r)
        for r in perceptual_hash_video(default, every_nth=2).collect()
    ]
    got = [
        tuple(r)
        for r in perceptual_hash_video(
            renamed, every_nth=2, id_col="vid_id", payload_col="blob"
        ).collect()
    ]
    assert got == want and len(got) == 1


def test_incremental_winnowing_store(spark, tmp_path):
    """The winnowing member of the incremental store family: 3 in-order
    batches (max_doc_freq=None) reproduce EXACTLY the one-shot
    winnowing_pairs derivation oriented best-earlier-per-later;
    redelivery is a no-op; a re-ingested id never self-flags and its
    LATEST content is what later arrivals are verified against; the
    boilerplate df cap prunes a span shared too widely."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_winnowing_dedup,
        winnowing_fingerprints,
        winnowing_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    K, W, MS = 5, 4, 2

    # one-shot expected flags: best earlier overlap per later id
    pairs = winnowing_pairs(
        winnowing_fingerprints(docs, k=K, window=W), min_shared=MS,
        max_doc_freq=None,
    )
    expected = {}
    for r in pairs.collect():
        cur = expected.get(r["id_b"])
        cand = (-r["shared"], r["id_a"])
        if cur is None or cand < cur:
            expected[r["id_b"]] = cand
    expected = {b: (a, -neg) for b, (neg, a) in expected.items()}

    store = str(tmp_path / "winnow_store")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + 2 * (hi - lo + 1) // 3, hi + 1]
    got = {}
    for b in range(3):
        batch = docs.filter(
            (F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1])
        )
        flags = incremental_winnowing_dedup(
            batch, store, b, k=K, window=W, min_shared=MS, max_doc_freq=None
        )
        for r in flags.collect():
            got[r["doc_id"]] = (r["overlap_of"], r["shared"])
    assert got == expected and len(got) > 0

    # redelivery: re-running the LATEST batch (2) rewrites identical
    # flags; re-running an OLDER id is refused by the operator's
    # monotonicity guard (r8: moved in from the curate_corpus call
    # site — a decreasing id overwrites that run's fps partition while
    # newer postings keep matching the dead content)
    batch2 = docs.filter(
        (F.col("doc_id") >= cuts[2]) & (F.col("doc_id") < cuts[3])
    )
    re_flags = incremental_winnowing_dedup(
        batch2, store, 2, k=K, window=W, min_shared=MS, max_doc_freq=None
    )
    re_got = {
        r["doc_id"]: (r["overlap_of"], r["shared"]) for r in re_flags.collect()
    }
    assert re_got == {b: v for b, v in got.items() if cuts[2] <= b < cuts[3]}
    with pytest.raises(ValueError, match="must not decrease"):
        incremental_winnowing_dedup(
            docs.limit(1), store, 1, k=K, window=W, min_shared=MS,
            max_doc_freq=None,
        )

    # re-ingestion contract: lo re-ingested as a COPY of a mid-corpus
    # doc flags against it (never itself)...
    mid = docs.filter(F.col("doc_id") == cuts[1]).first()
    reingest = spark.createDataFrame([(lo, mid.text)], "doc_id long, text string")
    fl3 = incremental_winnowing_dedup(
        reingest, store, 3, k=K, window=W, min_shared=MS, max_doc_freq=None
    )
    rows3 = {r["doc_id"]: r["overlap_of"] for r in fl3.collect()}
    assert rows3.get(lo) is not None and rows3[lo] != lo
    # ...then re-ingested AGAIN with unique text: no flags (stale
    # copies are candidate bait only, latest content decides)
    uniq = " ".join(f"wnstore{j}" for j in range(40))
    fl4 = incremental_winnowing_dedup(
        spark.createDataFrame([(lo, uniq)], "doc_id long, text string"),
        store, 4, k=K, window=W, min_shared=MS, max_doc_freq=None,
    )
    assert fl4.isEmpty()
    # a later arrival copying the ORIGINAL mid-corpus text must flag
    # against the mid doc, NOT against lo's stale copy
    fl5 = incremental_winnowing_dedup(
        spark.createDataFrame(
            [(900001, mid.text)], "doc_id long, text string"
        ),
        store, 5, k=K, window=W, min_shared=MS, max_doc_freq=None,
    )
    rows5 = {r["doc_id"]: r["overlap_of"] for r in fl5.collect()}
    assert rows5.get(900001) is not None and rows5[900001] != lo

    # boilerplate guard: three new docs sharing one 12-token span pair
    # at max_doc_freq=None but the span's fingerprints are df-pruned at
    # max_doc_freq=2 (span present in 3 docs)
    span = " ".join(f"wnb{j}" for j in range(12))
    trio = spark.createDataFrame(
        [
            (910000 + i, " ".join(f"wnu{i}x{j}" for j in range(20)) + " " + span)
            for i in range(3)
        ],
        "doc_id long, text string",
    )
    open_store = str(tmp_path / "winnow_open")
    capped_store = str(tmp_path / "winnow_capped")
    assert not incremental_winnowing_dedup(
        trio, open_store, 0, k=K, window=W, min_shared=1, max_doc_freq=None
    ).isEmpty()
    assert incremental_winnowing_dedup(
        trio, capped_store, 0, k=K, window=W, min_shared=1, max_doc_freq=2
    ).isEmpty()


def test_incremental_hamming_dedup_text_and_images(spark, tmp_path):
    """One hash-index engine, two modalities: (1) text SimHash over 2
    batches ≡ the one-shot simhash_pairs derivation; (2) image aHash
    rows flow through the SAME store; (3) empty batch is a no-op."""
    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        perceptual_hash_images,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
        simhash_bits,
        simhash_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sims = simhash_bits(docs).persist()
    one_shot = simhash_pairs(sims, max_hamming=6).collect()
    assert one_shot
    expected = {}
    for r in one_shot:  # best earlier (min hamming, tie min id) per later id
        cur = expected.get(r.id_b)
        cand = (r.hamming, r.id_a)
        if cur is None or cand < cur:
            expected[r.id_b] = cand

    store = str(tmp_path / "text_store")
    got = {}
    for b, (lo, hi) in enumerate([(0, 250), (250, 500)]):
        batch = sims.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for r in incremental_hamming_dedup(batch, store, b).collect():
            got[r.doc_id] = (r.hamming, r.dup_of)
    assert got == expected

    # empty batch: no flags, store still readable afterwards
    empty = incremental_hamming_dedup(sims.filter(F.lit(False)), store, 2)
    assert empty.count() == 0
    # re-ingesting ids already in the index must never self-flag
    again = incremental_hamming_dedup(
        sims.filter(F.col("doc_id") < 5), store, 3
    )
    self_flags = again.filter("doc_id = dup_of")
    assert self_flags.isEmpty()

    # image leg: aHash rows through the same engine
    w = h = 32

    def pgm(pixels):
        return b"P5\n32 32\n255\n" + bytes(pixels)

    base = [min(255, 4 * (x + y)) for y in range(h) for x in range(w)]
    noisy = list(base)
    for k in range(0, len(noisy), 97):
        noisy[k] = min(255, noisy[k] + 2)
    inverted = [255 - p for p in base]
    img_store = str(tmp_path / "img_store")
    b0 = spark.createDataFrame([(1, pgm(base)), (3, pgm(inverted))],
                               "doc_id long, payload binary")
    b1 = spark.createDataFrame([(2, pgm(noisy))], "doc_id long, payload binary")
    f0 = incremental_hamming_dedup(perceptual_hash_images(b0), img_store, 0)
    assert f0.count() == 0  # base vs inverted: structurally different
    f1 = {r.doc_id: r.dup_of
          for r in incremental_hamming_dedup(
              perceptual_hash_images(b1), img_store, 1).collect()}
    assert f1 == {2: 1}  # the noisy copy flags its earlier original
    sims.unpersist()


def test_ivf_auto_centroids_applies_sqrt_rule(spark):
    """num_centroids='auto' resolves to ceil(sqrt(n)) clamped at 32 and
    produces exactly the explicit-C results."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        ivf_ann_pairs,
        resolve_num_centroids,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = _ensure_ann_base(emb, "vec_id")
    n = base.count()  # 500 → ceil(sqrt) = 23 → clamped to 32
    assert resolve_num_centroids(base, "auto") == 32
    assert resolve_num_centroids(base, 17) == 17
    big = base.limit(0)  # 0 rows → floor clamp
    assert resolve_num_centroids(big, "auto") == 32
    assert n == 500

    auto_pairs = sorted(
        tuple(r) for r in ivf_ann_pairs(
            base, num_centroids="auto", probes=2, min_cosine=0.2
        ).collect()
    )
    explicit = sorted(
        tuple(r) for r in ivf_ann_pairs(
            base, num_centroids=32, probes=2, min_cosine=0.2
        ).collect()
    )
    assert auto_pairs == explicit and len(auto_pairs) > 0
    base.unpersist()


def _hash64(one_bits):
    """64-char '0'/'1' string with the given bit positions set."""
    return "".join("1" if i in one_bits else "0" for i in range(64))


def test_incremental_hamming_reingest_uses_current_hash(spark, tmp_path):
    """A re-ingested id's CURRENT hash is authoritative in the verify
    stage — both when the stale row is in an earlier batch vs the same
    arriving batch, and across multiple earlier batches (latest batch
    wins). Regression for the stale-hash pairing where packed_all held
    two hashes for one id."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
    )

    def sims(rows):
        return spark.createDataFrame(rows, "doc_id long, simhash string")

    # same-batch staleness: id 1 re-ingested alongside new id 2.
    # stored hash of 1 (2 bits) is hamming-2 from id 2's all-zeros —
    # would flag; its CURRENT hash (10 bits) is hamming-10 — must not.
    store_a = str(tmp_path / "ham_a")
    incremental_hamming_dedup(sims([(1, _hash64({0, 1}))]), store_a, 0)
    fl = incremental_hamming_dedup(
        sims([(1, _hash64(set(range(10)))), (2, _hash64(set()))]), store_a, 1
    )
    assert fl.count() == 0

    # multi-batch staleness: id 10 ingested (all-zeros), re-ingested
    # with 10 bits set; a later id 11 at hamming-1 from the STALE hash
    # must not flag (current hash is hamming-9 away). Latest batch wins.
    store_b = str(tmp_path / "ham_b")
    incremental_hamming_dedup(sims([(10, _hash64(set()))]), store_b, 0)
    assert (
        incremental_hamming_dedup(
            sims([(10, _hash64(set(range(10))))]), store_b, 1
        ).count()
        == 0  # lone re-ingest: the only candidate is its own indexed self
    )
    fl_b = incremental_hamming_dedup(sims([(11, _hash64({0}))]), store_b, 2)
    assert fl_b.count() == 0

    # and the current hash still matches when it should: id 12 at
    # hamming-1 from id 10's CURRENT hash flags against it
    fl_c = incremental_hamming_dedup(
        sims([(12, _hash64(set(range(9))))]), store_b, 3
    )
    got = {(r.doc_id, r.dup_of, r.hamming) for r in fl_c.collect()}
    assert got == {(12, 10, 1)}


def test_incremental_minhash_reingest_uses_current_text(spark, tmp_path):
    """An id re-ingested with NEW content never self-flags, its stale
    shingles are excluded from every verify, and its latest content is
    what later batches match against."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    ta = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tb = "one two three four five six seven eight nine ten"

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    store = str(tmp_path / "mh")
    incremental_minhash_dedup(docs([(1, ta)]), store, 0)
    # id 1 re-ingested with text TB; id 2 arrives with id 1's OLD text.
    # The band index still holds TA's bands for id 1 (candidate pair),
    # but the verify must use id 1's CURRENT shingles (TB): jaccard 0.
    fl = incremental_minhash_dedup(docs([(1, tb), (2, ta)]), store, 1)
    assert fl.count() == 0

    # a later doc with text TB matches id 1's LATEST content at 1.0
    fl2 = incremental_minhash_dedup(docs([(3, tb)]), store, 2)
    got = {(r.doc_id, r.dup_of, round(r.jaccard, 9)) for r in fl2.collect()}
    assert got == {(3, 1, 1.0)}


def test_incremental_ivf_reingest_uses_current_vector(spark, tmp_path):
    """The dense-store twin of the hamming/minhash re-ingestion
    contract: a re-ingested id's current vector is what the cosine
    verify runs against, same-batch and across batches."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        incremental_ivf_update,
    )

    cents = spark.createDataFrame(
        [(1, [1.0, 0.0])], "centroid_id int, cvec array<double>"
    )

    def vecs(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # same-batch: stored v(1)=[1,0] is cosine-0.98 to the arriving id 2
    # (would flag); id 1's CURRENT vector [0,1] is cosine-0.199 (must not)
    store_a = str(tmp_path / "ivf_a")
    incremental_ivf_update(
        vecs([(1, [1.0, 0.0])]), store_a, 0, centroids=cents, min_cosine=0.8
    )
    fl = incremental_ivf_update(
        vecs([(1, [0.0, 1.0]), (2, [0.98, 0.199])]), store_a, 1, min_cosine=0.8
    )
    assert fl.count() == 0

    # multi-batch: id 10 re-ingested in batch 1; a later id 11 close to
    # the STALE vector only must not flag (latest batch wins)
    store_b = str(tmp_path / "ivf_b")
    incremental_ivf_update(
        vecs([(10, [1.0, 0.0])]), store_b, 0, centroids=cents, min_cosine=0.8
    )
    assert (
        incremental_ivf_update(
            vecs([(10, [0.0, 1.0])]), store_b, 1, min_cosine=0.8
        ).count()
        == 0  # lone re-ingest never flags itself
    )
    fl_b = incremental_ivf_update(
        vecs([(11, [0.995, 0.1])]), store_b, 2, min_cosine=0.8
    )
    assert fl_b.count() == 0
    # and a vector close to the CURRENT one still flags
    fl_c = incremental_ivf_update(
        vecs([(12, [0.1, 0.995])]), store_b, 3, min_cosine=0.8
    )
    got = {(r.vec_id, r.match_id) for r in fl_c.collect()}
    assert got == {(12, 10)}


def test_retrain_ivf_store_equals_fresh_geometry(spark, tmp_path):
    """The grown-store migration path: a store bootstrapped with a
    deliberately tiny cell geometry trips the C-doubling threshold,
    retrain_ivf_store re-derives C and re-assigns the persisted cells,
    and afterwards the store is indistinguishable from one freshly
    trained at the new geometry — same centroids, same cells, same
    subsequent incremental flags and ivf_topk results. batch_id layout
    survives, and an interrupted swap recovers."""
    import os

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _seed_centroids,
        dbl_vector,
        incremental_ivf_update,
        ivf_assignments,
        ivf_store_needs_retrain,
        ivf_topk,
        recover_ivf_store,
        retrain_ivf_store,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    t = 0.2
    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + 2 * (hi - lo + 1) // 3, hi + 1]
    batches = [
        emb.filter((F.col("vec_id") >= cuts[b]) & (F.col("vec_id") < cuts[b + 1]))
        for b in range(3)
    ]
    stored_corpus = batches[0].unionByName(batches[1])

    def vdbl_base(df):
        return df.select("vec_id", dbl_vector("embedding").alias("vdbl"))

    # bootstrap with a geometry far too small for the grown store
    tiny = _seed_centroids(vdbl_base(batches[0]), 2, "vec_id").localCheckpoint()
    store_a = str(tmp_path / "grown")
    incremental_ivf_update(batches[0], store_a, 0, centroids=tiny, min_cosine=t)
    incremental_ivf_update(batches[1], store_a, 1, min_cosine=t)
    assert ivf_store_needs_retrain(spark, store_a)  # auto-C ≥ 2×2

    c_new = retrain_ivf_store(spark, store_a, num_centroids=8)
    assert c_new == 8

    # the retrained geometry IS the fresh-trained one (deterministic
    # seeded pick over the stored corpus at the same C)
    fresh_cents = _seed_centroids(
        vdbl_base(stored_corpus), 8, "vec_id"
    ).localCheckpoint()
    got_cents = sorted(
        (r.centroid_id, tuple(r.cvec))
        for r in spark.read.parquet(f"{store_a}/centroids").collect()
    )
    exp_cents = sorted(
        (r.centroid_id, tuple(r.cvec)) for r in fresh_cents.collect()
    )
    assert got_cents == exp_cents

    # cells re-assigned to the new geometry, batch_id layout preserved
    cells = spark.read.parquet(f"{store_a}/cells")
    got_cells = {
        (r.vec_id, int(r.centroid_id), int(r.batch_id)) for r in cells.collect()
    }
    exp_assign = {
        (r.vec_id, int(r.centroid_id), int(r.batch_id))
        for r in ivf_assignments(
            stored_corpus.withColumn(
                "batch_id",
                F.when(F.col("vec_id") < cuts[1], F.lit(0)).otherwise(F.lit(1)),
            ),
            probes=1,
            id_col="vec_id",
            vec_col="embedding",
            centroids=fresh_cents,
            carry_cols=("batch_id",),
        ).collect()
    }
    assert got_cells == exp_assign

    # a FRESH store bootstrapped at the new geometry sees identical
    # subsequent incremental flags
    store_b = str(tmp_path / "fresh")
    incremental_ivf_update(
        batches[0], store_b, 0, centroids=fresh_cents, min_cosine=t
    )
    incremental_ivf_update(batches[1], store_b, 1, min_cosine=t)
    fa = {
        (r.vec_id, r.match_id, round(r.cosine, 9))
        for r in incremental_ivf_update(
            batches[2], store_a, 2, min_cosine=t
        ).collect()
    }
    fb = {
        (r.vec_id, r.match_id, round(r.cosine, 9))
        for r in incremental_ivf_update(
            batches[2], store_b, 2, min_cosine=t
        ).collect()
    }
    assert fa == fb and len(fa) > 0

    # query path: topk under the retrained centroids ≡ fresh centroids
    cents_a = spark.read.parquet(f"{store_a}/centroids")
    ta = sorted(tuple(r) for r in ivf_topk(
        stored_corpus, query_ids_max=cuts[0] + 5, k=3, centroids=cents_a
    ).collect())
    tb = sorted(tuple(r) for r in ivf_topk(
        stored_corpus, query_ids_max=cuts[0] + 5, k=3, centroids=fresh_cents
    ).collect())
    assert ta == tb

    # 'auto' derivation: the sqrt rule's floor clamp at this size
    assert retrain_ivf_store(spark, store_a) == 32
    assert not ivf_store_needs_retrain(spark, store_a)

    # crash between the two renames: the only copy of cells is the
    # backup — recovery restores it and a re-run retrain succeeds
    os.rename(f"{store_a}/cells", f"{store_a}/.retrain_backup_cells")
    recover_ivf_store(spark, store_a)
    assert os.path.isdir(f"{store_a}/cells")
    assert retrain_ivf_store(spark, store_a) == 32
    # only_if_needed: geometry already current → no-op
    assert retrain_ivf_store(spark, store_a, only_if_needed=True) is None


def test_retrain_crash_between_table_swaps_rolls_forward(spark, tmp_path):
    """The two-directory swap's worst crash points — after the cells
    table swapped but before the centroids table did (and mid-cells
    swap) — must recover to the NEW geometry on both tables, never a
    mixed store: the commit marker tells recovery to roll forward."""
    import shutil

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _seed_centroids,
        dbl_vector,
        incremental_ivf_update,
        recover_ivf_store,
        retrain_ivf_store,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    tiny = _seed_centroids(
        emb.select("vec_id", dbl_vector("embedding").alias("vdbl")), 2, "vec_id"
    ).localCheckpoint()

    def build_store(path):
        incremental_ivf_update(emb, path, 0, centroids=tiny, min_cosine=0.9)

    # reference: a clean retrain
    ref = str(tmp_path / "ref")
    build_store(ref)
    pre = str(tmp_path / "pre")
    shutil.copytree(ref, pre)
    assert retrain_ivf_store(spark, ref, num_centroids=8) == 8

    def rows(path, sub):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{path}/{sub}")
            .selectExpr("vec_id", "cast(centroid_id as int) c")
            .collect()
        ) if sub == "cells" else sorted(
            (r.centroid_id, tuple(r.cvec))
            for r in spark.read.parquet(f"{path}/{sub}").collect()
        )

    def assert_recovered(store):
        recover_ivf_store(spark, store)
        assert rows(store, "centroids") == rows(ref, "centroids")
        assert rows(store, "cells") == rows(ref, "cells")
        import os as _os

        leftovers = [n for n in _os.listdir(store) if n.startswith(".retrain")]
        assert leftovers == [], leftovers

    # crash point A: cells fully swapped, centroids untouched
    sa = str(tmp_path / "crash_a")
    shutil.copytree(pre, sa)
    shutil.move(f"{sa}/cells", f"{sa}/.retrain_backup_cells")
    shutil.copytree(f"{ref}/cells", f"{sa}/cells")
    shutil.copytree(f"{ref}/centroids", f"{sa}/.retrain_centroids")
    open(f"{sa}/.retrain_commit", "w").close()
    assert_recovered(sa)

    # crash point B: mid-cells swap (live cells missing entirely)
    sb = str(tmp_path / "crash_b")
    shutil.copytree(pre, sb)
    shutil.move(f"{sb}/cells", f"{sb}/.retrain_backup_cells")
    shutil.copytree(f"{ref}/cells", f"{sb}/.retrain_cells")
    shutil.copytree(f"{ref}/centroids", f"{sb}/.retrain_centroids")
    open(f"{sb}/.retrain_commit", "w").close()
    assert_recovered(sb)

    # no marker: staged dirs are incomplete writes — swept, store intact
    sc = str(tmp_path / "no_marker")
    shutil.copytree(pre, sc)
    shutil.copytree(f"{ref}/centroids", f"{sc}/.retrain_centroids")
    recover_ivf_store(spark, sc)
    assert spark.read.parquet(f"{sc}/centroids").count() == 2
    import os as _os

    assert not _os.path.exists(f"{sc}/.retrain_centroids")


def test_retrain_trains_on_latest_vectors_of_reingested_ids(spark, tmp_path):
    """A store holding multiple rows for a re-ingested id (one per
    ingest) must train its new geometry on the LATEST vectors only —
    deterministically — and the store content keeps every batch's rows."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _seed_centroids,
        dbl_vector,
        incremental_ivf_update,
        retrain_ivf_store,
    )

    cents1 = spark.createDataFrame(
        [(1, [1.0, 0.0])], "centroid_id int, cvec array<double>"
    )

    def vecs(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    store = str(tmp_path / "st")
    b0 = [(i, [float(i), 1.0]) for i in range(1, 11)]
    incremental_ivf_update(vecs(b0), store, 0, centroids=cents1, min_cosine=0.99)
    # re-ingest id 1 with a NEW vector in batch 1
    incremental_ivf_update(
        vecs([(1, [-5.0, 2.0])]), store, 1, min_cosine=0.99
    )

    assert retrain_ivf_store(spark, store, num_centroids=3) == 3
    latest = vecs([(1, [-5.0, 2.0])] + b0[1:])
    expected = sorted(
        (r.centroid_id, tuple(r.cvec))
        for r in _seed_centroids(
            latest.select("vec_id", dbl_vector("embedding").alias("vdbl")),
            3,
            "vec_id",
        ).collect()
    )
    got = sorted(
        (r.centroid_id, tuple(r.cvec))
        for r in spark.read.parquet(f"{store}/centroids").collect()
    )
    assert got == expected
    # store content keeps both batches' rows for the re-ingested id
    n_rows_id1 = (
        spark.read.parquet(f"{store}/cells").filter("vec_id = 1").count()
    )
    assert n_rows_id1 == 2
    # deterministic: a second retrain reproduces the same geometry
    assert retrain_ivf_store(spark, store, num_centroids=3) == 3
    got2 = sorted(
        (r.centroid_id, tuple(r.cvec))
        for r in spark.read.parquet(f"{store}/centroids").collect()
    )
    assert got2 == expected


def test_winnowing_matches_reference_and_guarantee(spark):
    """winnowing_fingerprints ≡ a sequential Schleimer-et-al reference
    on fixture docs (same hashes, same window minima, same distinct
    set), and the winnowing GUARANTEE holds: two docs sharing a span of
    ≥ window+k−1 tokens — surrounded by completely different text —
    share ≥ 1 fingerprint and are paired, where whole-doc Jaccard at
    0.8 never would."""
    import hashlib

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_pairs,
    )

    K, W = 5, 4

    def ref(words):
        grams = [" ".join(words[i : i + K]) for i in range(len(words) - K + 1)]
        H = [int(hashlib.md5(g.encode()).hexdigest()[:13], 16) for g in grams]
        if not H:
            return set()
        if len(H) < W:
            return set(H)
        return {min(H[i : i + W]) for i in range(len(H) - W + 1)}

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    got = {}
    for r in winnowing_fingerprints(docs, k=K, window=W).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for r in docs.collect():
        expected = ref(r.text.strip().split(" "))
        assert got.get(r.doc_id, set()) == expected, r.doc_id

    # guarantee: a W+K-1 = 8-token shared span inside different docs
    span = "s1 s2 s3 s4 s5 s6 s7 s8"
    d1 = " ".join(f"aa{i}" for i in range(20)) + f" {span} " + " ".join(
        f"ab{i}" for i in range(20)
    )
    d2 = " ".join(f"ba{i}" for i in range(20)) + f" {span} " + " ".join(
        f"bb{i}" for i in range(20)
    )
    d3 = " ".join(f"ca{i}" for i in range(48))  # no shared span
    planted = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    fps = winnowing_fingerprints(planted, k=K, window=W)
    pairs = {
        (r.id_a, r.id_b)
        for r in winnowing_pairs(fps, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)

    # edge: exactly k tokens -> the single k-gram hash is the fingerprint
    tiny = spark.createDataFrame([(9, "t1 t2 t3 t4 t5")], "doc_id long, text string")
    tiny_fps = [r.fp for r in winnowing_fingerprints(tiny, k=K, window=W).collect()]
    assert tiny_fps == [
        int(hashlib.md5(b"t1 t2 t3 t4 t5").hexdigest()[:13], 16)
    ]


def test_incremental_ivf_multiprobe_recall_and_invariance(spark, tmp_path):
    """Asymmetric multi-probe on the incremental IVF store: arriving
    batches probe their top-P cells against primary-cell inverted
    lists. Flags over 3 batches must equal the independent derivation
    of the probe rule (later's P probes ∋ earlier's primary, cosine
    verified, best-earlier per later id), be a superset of the
    probes=1 flags (recall is monotone in P), and keep the store
    layout at one row per vector."""
    from crypto_data_pipeline_with_kafka_spark.catalog import load_table
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        cosine_for_pairs,
        incremental_ivf_update,
        ivf_assignments,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    t, P = 0.2, 2
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()

    # expected: every (a < b) pair where b's top-P probes contain a's
    # primary cell, exact cosine >= t, best earlier per b
    ranked = ivf_assignments(
        base, probes=P, vec_col="vdbl", centroids=cents, with_rank=True
    ).persist()
    prim = ranked.filter("probe_rank = 1").select(
        F.col("vec_id").alias("id_a"), "centroid_id"
    )
    prob = ranked.select(F.col("vec_id").alias("id_b"), "centroid_id")
    cand = (
        prim.join(prob, "centroid_id")
        .filter("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
    )
    scored = cosine_for_pairs(
        base, cand, min_cosine=t, exact_norms_in_base=False
    )
    expected = {}
    for r in scored.collect():
        cur = expected.get(r["id_b"])
        c = (-r["cosine"], r["id_a"])
        if cur is None or c < cur:
            expected[r["id_b"]] = c
    expected = {k: (v[1], round(-v[0], 9)) for k, v in expected.items()}

    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + 2 * (hi - lo + 1) // 3, hi + 1]
    store = str(tmp_path / "mp")
    store1 = str(tmp_path / "p1")
    got, got1 = {}, {}
    for b in range(3):
        batch = emb.filter(
            (F.col("vec_id") >= cuts[b]) & (F.col("vec_id") < cuts[b + 1])
        )
        for st, acc, pp in ((store, got, P), (store1, got1, 1)):
            fl = incremental_ivf_update(
                batch, st, b, centroids=cents if b == 0 else None,
                min_cosine=t, probes=pp,
            )
            for r in fl.collect():
                acc[r["vec_id"]] = (r["match_id"], round(r["cosine"], 9))

    assert got == expected and len(got) > 0
    # recall monotone: every probes=1 flagged id is flagged at P=2 too
    assert set(got1) <= set(got)
    assert len(got) > len(got1)  # the extra probes actually find more
    # store layout: one primary-cell row per vector regardless of P
    assert (
        spark.read.parquet(f"{store}/cells")
        .groupBy("vec_id").count().filter("count > 1").isEmpty()
    )
    ranked.unpersist()
    base.unpersist()


def test_hamming_chunk_blocking_recall_guarantee(spark, tmp_path):
    """The n_chunks knob's pigeonhole guarantee: a pair at hamming 4
    with one flipped bit in EACH 16-bit chunk shares no chunk at
    n_chunks=4 (missed — the documented trade) but shares 8-bit chunks
    at n_chunks=8 (guaranteed caught for hamming ≤ 7). The incremental
    store derives blocking per call, so raising the knob on a later
    batch widens recall against the already-indexed hashes."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
        simhash_pairs,
    )

    # flips at bits 0/16/32/48: one per 16-bit chunk, none per the
    # odd 8-bit chunks
    a = _hash64(set())
    b = _hash64({0, 16, 32, 48})
    sims = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, simhash string"
    )
    assert simhash_pairs(sims, max_hamming=6, n_chunks=4).isEmpty()
    got = simhash_pairs(sims, max_hamming=6, n_chunks=8).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 4)]
    with __import__("pytest").raises(ValueError, match="n_chunks"):
        simhash_pairs(sims, n_chunks=5).count()

    # incremental: index A at the default blocking, then process B at
    # n_chunks=8 — the stored raw hash is re-blocked at read time
    store = str(tmp_path / "st")
    incremental_hamming_dedup(
        spark.createDataFrame([(1, a)], "doc_id long, simhash string"),
        store,
        0,
    )
    missed = incremental_hamming_dedup(
        spark.createDataFrame([(2, b)], "doc_id long, simhash string"),
        store,
        1,
        n_chunks=4,
    )
    assert missed.isEmpty()
    caught = incremental_hamming_dedup(
        spark.createDataFrame([(2, b)], "doc_id long, simhash string"),
        store,
        1,
        n_chunks=8,
    )
    assert [(r.doc_id, r.dup_of, r.hamming) for r in caught.collect()] == [
        (2, 1, 4)
    ]


def test_pq_encode_matches_sequential_reference(spark):
    """pq_train/pq_encode vs a pure-Python PQ: identical codebooks
    (seeded per-sub-space pick) and identical nearest-code assignment
    (same left-to-right squared-L2 fold, ties to the smaller code)."""
    import hashlib

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    M, K = 8, 16
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    D = len(next(iter(rows.values())))
    d = D // M

    # sequential codebooks: per sub-space j, the K ids with smallest
    # (md5(f"{j}|{id}"), id)
    ref_books = {}
    for j in range(M):
        order = sorted(
            rows, key=lambda i: (hashlib.md5(f"{j}|{i}".encode()).hexdigest(), i)
        )[:K]
        ref_books[j] = [rows[i][j * d : (j + 1) * d] for i in order]

    books = pq_train(emb, num_subvectors=M, codes_per_subvector=K)
    got_books = {}
    for r in books.collect():
        got_books.setdefault(r.sub_id, {})[r.code] = list(r.cvec)
    for j in range(M):
        assert [got_books[j][c] for c in range(K)] == ref_books[j], j

    def ref_code(vec, j):
        best, bc = float("inf"), -1
        for c, cv in enumerate(ref_books[j]):
            s = 0.0
            for a, b in zip(vec[j * d : (j + 1) * d], cv):
                s = s + (a - b) * (a - b)
            if s < best:
                best, bc = s, c
        return bc

    got = {r.vec_id: list(r.codes) for r in pq_encode(emb.limit(80), books).collect()}
    for i, cs in got.items():
        assert cs == [ref_code(rows[i], j) for j in range(M)], i


def test_pq_topk_recall_compression_curve(spark):
    """ADC top-k over PQ codes vs brute_force_topk on the fixture
    corpus — deliberately the ADVERSARIAL case for PQ (near-orthogonal
    synthetic vectors have no sub-space cluster structure), so the
    assertions pin the TRADE, not a flattering number: recall is far
    above chance at every configuration and rises monotonically as
    compression is relaxed (more sub-spaces / more codes). Plus:
    deterministic results and the persisted-code serve path identical
    to on-the-fly encoding. Measured curve on this corpus: 8×32 ≈
    0.21, 16×64 ≈ 0.47, 32×64 ≈ 0.75 recall@5 (chance ≈ 0.01)."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    exact = {}
    for r in brute_force_topk(emb, query_ids_max=20, k=5).collect():
        exact.setdefault(r.id_a, set()).add(r.id_b)
    total = sum(len(v) for v in exact.values())

    def recall(m, k, books=None):
        books = books if books is not None else pq_train(
            emb, num_subvectors=m, codes_per_subvector=k
        )
        approx = {}
        for r in pq_topk(emb, books, query_ids_max=20, k=5).collect():
            approx.setdefault(r.id_a, set()).add(r.id_b)
        return sum(len(exact[q] & approx.get(q, set())) for q in exact) / total

    chance = 5.0 / (n - 1)
    r_coarse = recall(8, 32)    # 32x compression of float32
    r_mid = recall(16, 64)      # 16x
    r_fine = recall(32, 64)     # 8x
    assert r_coarse > 10 * chance, (r_coarse, chance)
    assert r_coarse < r_mid < r_fine, (r_coarse, r_mid, r_fine)
    assert r_fine >= 0.6, r_fine

    # deterministic + persisted-code serve path ≡ on-the-fly encode
    books = pq_train(emb, num_subvectors=16, codes_per_subvector=64).persist()
    got1 = pq_topk(emb, books, query_ids_max=20, k=5).collect()
    got2 = pq_topk(emb, books, query_ids_max=20, k=5).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))
    codes = pq_encode(emb, books)
    got3 = pq_topk(emb, books, codes=codes, query_ids_max=20, k=5).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got3))
    books.unpersist()


def test_ivf_pq_topk_refine_tradeoff(spark):
    """IVF-PQ with exact re-ranking vs plain ivf_topk on the same cell
    geometry: with refine covering every probed-cell candidate the two
    are IDENTICAL (ADC only orders a shortlist that is then fully
    exact re-scored), a tight refine keeps recall far above chance,
    and refine < k refuses."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        ivf_pq_topk,
        ivf_topk,
        pq_train,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 16, "vec_id").localCheckpoint()
    books = pq_train(
        base, num_subvectors=16, codes_per_subvector=64, vec_col="vdbl", dim=64
    ).persist()

    exact = sorted(
        map(
            tuple,
            ivf_topk(
                base, query_ids_max=20, k=5, probes=3, centroids=cents
            ).collect(),
        )
    )
    full = sorted(
        map(
            tuple,
            ivf_pq_topk(
                base, query_ids_max=20, k=5, probes=3, centroids=cents,
                codebooks=books, refine=10**6,
            ).collect(),
        )
    )
    assert full == exact and len(full) > 0

    # tight shortlist: the ADC approximation appears, but recall vs the
    # full-refine truth stays far above chance
    mid = ivf_pq_topk(
        base, query_ids_max=20, k=5, probes=3, centroids=cents,
        codebooks=books, refine=8,
    ).collect()
    truth = {}
    for t in exact:
        truth.setdefault(t[0], set()).add(t[1])
    hits = sum(1 for r in mid if r.id_b in truth.get(r.id_a, set()))
    total = sum(len(v) for v in truth.values())
    n = emb.count()
    chance = 5.0 / (n - 1)
    assert hits / total > 10 * chance, (hits, total, chance)

    with pytest.raises(ValueError, match="refine"):
        ivf_pq_topk(base, k=5, refine=3, centroids=cents, codebooks=books)
    # persisted codes are positional references into THEIR codebooks
    with pytest.raises(ValueError, match="codes= without codebooks"):
        ivf_pq_topk(
            base,
            centroids=cents,
            codes=spark.createDataFrame([], "vec_id long, codes array<int>"),
        )

    # exact=True (r8, the driver-attested 'ivfpq' suite leg's mode):
    # covering refine is STILL identical to ivf_topk — the two-pass
    # exact-decimal shortlist changes rank arithmetic, not membership
    # semantics — and a tight refine emits exactly k rows per query
    books_e = pq_train(
        base, num_subvectors=16, codes_per_subvector=64, vec_col="vdbl",
        dim=64, exact=True,
    ).persist()
    full_e = sorted(
        map(
            tuple,
            ivf_pq_topk(
                base, query_ids_max=20, k=5, probes=3, centroids=cents,
                codebooks=books_e, refine=10**6, exact=True,
            ).collect(),
        )
    )
    assert full_e == exact
    tight_e = ivf_pq_topk(
        base, query_ids_max=20, k=5, probes=3, centroids=cents,
        codebooks=books_e, refine=8, exact=True,
    ).collect()
    assert {r.rnk for r in tight_e} == {1, 2, 3, 4, 5}
    # mode guards: double books refuse exact, exact books refuse
    # double (exact+residual COMPOSES since r9 — pinned in
    # test_ivf_pq_residual_exact_mode; the refusal this replaced
    # cited summation order, closed by the decimal two-LUT fold)
    with pytest.raises(ValueError, match="exact"):
        ivf_pq_topk(
            base, centroids=cents, codebooks=books, refine=8, exact=True
        ).collect()
    with pytest.raises(ValueError, match="exact"):
        ivf_pq_topk(
            base, centroids=cents, codebooks=books_e, refine=8
        ).collect()
    books_e.unpersist()

    # non-default id column survives the full path (the exact re-rank
    # stage threads id_col through cosine_for_pairs); prepare the base
    # explicitly so its cache can be released (caller-owned lifecycle)
    rbase = _ensure_ann_base(
        emb.withColumnRenamed("vec_id", "emb_id"), "emb_id"
    )
    assert ivf_pq_topk(
        rbase, id_col="emb_id", query_ids_max=5, k=2, refine=4
    ).count() > 0
    rbase.unpersist()
    books.unpersist()


def test_ivf_pq_residual_encoding_lifts_recall(spark):
    """residual=True (the textbook IVFADC layout) quantizes x − c(x)
    instead of the raw vector: on a planted CLUSTERED corpus — where
    raw-vector codebooks waste their resolution re-encoding the cluster
    structure the cell assignment already captured — the same 8-byte
    code budget roughly doubles shortlist recall (measured 0.78 vs 0.44
    at refine=8). Full-refine output is still exactly ivf_topk (the
    decomposed dot(q,c) + LUT score only orders the shortlist), and
    the assignments= path refuses (it has no centroid vectors)."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        ivf_assignments,
        ivf_pq_topk,
        ivf_topk,
    )

    G, PER, DIM = 16, 40, 64
    rows = []
    for g in range(G):
        center = [((g * 31 + i * 7) % 17 - 8) / 4.0 for i in range(DIM)]
        for j in range(PER):
            p = g * PER + j
            delta = [((p * 13 + i * 5) % 9 - 4) / 40.0 for i in range(DIM)]
            rows.append((p, [center[i] + delta[i] for i in range(DIM)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 16, "vec_id").localCheckpoint()

    truth = {}
    for r in ivf_topk(
        base, query_ids_max=20, k=5, probes=3, centroids=cents
    ).collect():
        truth.setdefault(r.id_a, set()).add(r.id_b)
    total = sum(len(v) for v in truth.values())

    def recall(**kw):
        got = ivf_pq_topk(
            base, query_ids_max=20, k=5, probes=3, centroids=cents,
            num_subvectors=8, codes_per_subvector=16, refine=8, dim=DIM,
            **kw,
        ).collect()
        return sum(1 for r in got if r.id_b in truth.get(r.id_a, set())) / total

    r_plain, r_res = recall(), recall(residual=True)
    assert r_res > r_plain, (r_res, r_plain)
    assert r_res >= 0.7 and r_plain >= 0.3, (r_res, r_plain)

    full = sorted(
        map(
            tuple,
            ivf_pq_topk(
                base, query_ids_max=20, k=5, probes=3, centroids=cents,
                refine=10**6, dim=DIM, residual=True,
            ).collect(),
        )
    )
    exact = sorted(
        map(
            tuple,
            ivf_topk(
                base, query_ids_max=20, k=5, probes=3, centroids=cents
            ).collect(),
        )
    )
    assert full == exact

    assign = ivf_assignments(
        base, 16, probes=3, vec_col="vdbl", centroids=cents, with_rank=True
    )
    with pytest.raises(ValueError, match="centroid VECTORS"):
        ivf_pq_topk(base, assignments=assign, residual=True, dim=DIM)
    # persisted residual codebooks without their geometry refuse: a
    # re-derived seeded pick would decode residuals of WRONG centroids
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        pq_train,
    )

    some_books = pq_train(base, 8, 16, vec_col="vdbl", dim=DIM)
    with pytest.raises(ValueError, match="cell geometry"):
        ivf_pq_topk(base, residual=True, codebooks=some_books, dim=DIM)
    base.unpersist()


def test_ivf_pq_store_serves_and_preserves_contract(spark, tmp_path):
    """The pq_codebooks= store layout: codes ride each batch's cell
    rows; the serve view (read_ivf_pq_store) is one row per vec_id with
    LATEST-content codes (the minhash/hamming stores' re-ingestion
    contract); flags never self-flag a re-ingested id; ivf_pq_topk fed
    from the store's stored pieces ≡ recomputing over the same corpus;
    and retrain_ivf_store carries codes through the new geometry."""
    from crypto_data_pipeline_with_kafka_spark.catalog import load_table
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        incremental_ivf_update,
        ivf_pq_topk,
        pq_encode,
        pq_train,
        read_ivf_pq_store,
        retrain_ivf_store,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store = str(tmp_path / "ivfpq_store")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()
    books = pq_train(
        base, num_subvectors=8, codes_per_subvector=16, vec_col="vdbl", dim=64
    ).localCheckpoint()

    lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
    cut = lo + (hi - lo + 1) // 2
    b0 = emb.filter(F.col("vec_id") < cut)
    # batch 1 re-ingests id `lo` with CHANGED content (negated vector)
    reingested = b0.filter(F.col("vec_id") == lo).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    b1 = (
        emb.filter(F.col("vec_id") >= cut)
        .select("vec_id", "embedding")
        .unionByName(reingested)
    )

    incremental_ivf_update(
        b0, store, 0, centroids=cents, pq_codebooks=books, min_cosine=0.2
    )
    fl1 = incremental_ivf_update(b1, store, 1, min_cosine=0.2)
    assert fl1.filter(F.col("vec_id") == F.col("match_id")).count() == 0

    cells, books_r, cents_r = read_ivf_pq_store(spark, store)
    n_ids = emb.count()
    assert cells.count() == n_ids  # one serve row per id, history collapsed
    # the re-ingested id's codes are its LATEST content's codes
    want = pq_encode(reingested, books).collect()[0].codes
    got = cells.filter(F.col("vec_id") == lo).collect()[0].codes
    assert list(got) == list(want)

    # serving from the stored pieces ≡ recomputing cells+codes over the
    # same latest corpus with the same geometry/codebooks
    def serve(cells_df, cents_df, books_df, precomputed: bool):
        kw = dict(
            query_ids_max=20, k=5, probes=3, centroids=cents_df,
            codebooks=books_df, refine=20,
        )
        if precomputed:
            kw["corpus_cells"] = cells_df.select("vec_id", "centroid_id")
            kw["codes"] = cells_df.select("vec_id", "codes")
        return sorted(
            map(
                tuple,
                ivf_pq_topk(
                    cells_df.select("vec_id", "embedding"), **kw
                ).collect(),
            )
        )

    assert serve(cells, cents_r, books_r, True) == serve(
        cells, cents_r, books_r, False
    )

    # retrain to the grown store's geometry: codes survive untouched
    before = {r.vec_id: list(r.codes) for r in cells.collect()}
    assert retrain_ivf_store(spark, store, num_centroids=16) == 16
    cells2, books2, cents2 = read_ivf_pq_store(spark, store)
    after = {r.vec_id: list(r.codes) for r in cells2.collect()}
    assert after == before
    assert cents2.count() == 16
    # and the retrained store still serves
    assert len(serve(cells2, cents2, books2, True)) > 0

    # guards: enabling PQ on a store with existing code-less cells
    # refuses (a mixed store would serve NULL ADC scores or lose codes
    # on retrain), and an exact/double codebook-mode mismatch refuses
    # at plan build instead of silently mis-scoring
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        pq_topk,
    )

    plain_store = str(tmp_path / "plain_store")
    incremental_ivf_update(b0, plain_store, 0, centroids=cents, min_cosine=0.2)
    with pytest.raises(ValueError, match="FIRST batch"):
        incremental_ivf_update(b1, plain_store, 1, pq_codebooks=books)

    exact_books = pq_train(
        base, num_subvectors=8, codes_per_subvector=16, vec_col="vdbl",
        dim=64, exact=True,
    )
    with pytest.raises(ValueError, match="does not match exact"):
        pq_encode(b0, exact_books)  # exact books, double mode
    with pytest.raises(ValueError, match="does not match exact"):
        pq_topk(base, books, vec_col="vdbl", exact=True)  # double books


def test_ivf_pq_residual_store_mode(spark, tmp_path):
    """Residual-tagged books (pq_train_residual) in the incremental
    store (r8): batches encode x − c(x) against their primary cells;
    the re-ingestion contract (latest-wins, never-self-flag) holds;
    serving from the stored pieces ≡ recomputing over the same corpus;
    retrain RE-ENCODES the codes against the new geometry in its
    re-assignment pass (unlike raw codes, which it carries untouched);
    and the tag guards refuse every silent raw/residual mix."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        incremental_ivf_update,
        ivf_assignments,
        ivf_pq_topk,
        pq_encode,
        pq_topk,
        pq_train,
        pq_train_residual,
        read_ivf_pq_store,
        retrain_ivf_store,
    )

    G, PER, DIM = 8, 20, 64
    rows = []
    for g in range(G):
        center = [((g * 31 + i * 7) % 17 - 8) / 4.0 for i in range(DIM)]
        for j in range(PER):
            p = g * PER + j
            delta = [((p * 13 + i * 5) % 9 - 4) / 40.0 for i in range(DIM)]
            rows.append((p, [center[i] + delta[i] for i in range(DIM)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, G, "vec_id").localCheckpoint()
    books = pq_train_residual(
        emb, cents, num_subvectors=8, codes_per_subvector=16, dim=DIM
    ).localCheckpoint()
    assert "residual" in books.columns

    cut = G * PER // 2
    b0 = emb.filter(F.col("vec_id") < cut)
    reingested = b0.filter(F.col("vec_id") == 0).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    b1 = (
        emb.filter(F.col("vec_id") >= cut)
        .select("vec_id", "embedding")
        .unionByName(reingested)
    )
    store = str(tmp_path / "ivfpq_res_store")
    incremental_ivf_update(
        b0, store, 0, centroids=cents, pq_codebooks=books, min_cosine=0.2
    )
    fl1 = incremental_ivf_update(b1, store, 1, min_cosine=0.2)
    assert fl1.filter(F.col("vec_id") == F.col("match_id")).count() == 0

    cells, books_r, cents_r = read_ivf_pq_store(spark, store)
    assert "residual" in books_r.columns
    assert cells.count() == G * PER  # latest-wins serve view

    # latest-wins codes: the re-ingested id's stored codes are the
    # residual-encode of its LATEST content against its primary cell
    def residual_codes(vectors, geometry):
        vd = vectors.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("_vd"),
        )
        assign = ivf_assignments(
            vd, probes=1, id_col="vec_id", vec_col="_vd", centroids=geometry
        )
        rv = (
            vd.join(assign, "vec_id")
            .join(
                geometry.select(
                    "centroid_id", F.col("cvec").alias("_cvec")
                ),
                "centroid_id",
            )
            .select(
                "vec_id",
                F.zip_with("_vd", "_cvec", lambda a, b: a - b).alias("_rvec"),
            )
        )
        return pq_encode(rv, books_r, id_col="vec_id", vec_col="_rvec")

    want = residual_codes(reingested, cents_r).collect()[0].codes
    got = cells.filter(F.col("vec_id") == 0).collect()[0].codes
    assert list(got) == list(want)

    # serve from stored pieces ≡ recompute over the same latest corpus
    def serve(cells_df, cents_df, books_df, precomputed: bool):
        kw = dict(
            query_ids_max=10, k=5, probes=3, centroids=cents_df,
            codebooks=books_df, refine=12, residual=True,
        )
        if precomputed:
            kw["corpus_cells"] = cells_df.select("vec_id", "centroid_id")
            kw["codes"] = cells_df.select("vec_id", "codes")
        return sorted(
            map(
                tuple,
                ivf_pq_topk(
                    cells_df.select("vec_id", "embedding"), **kw
                ).collect(),
            )
        )

    assert serve(cells, cents_r, books_r, True) == serve(
        cells, cents_r, books_r, False
    )

    # retrain: residual codes are RE-ENCODED against the new geometry
    before = {r.vec_id: list(r.codes) for r in cells.collect()}
    assert retrain_ivf_store(spark, store, num_centroids=2 * G) == 2 * G
    cells2, books2, cents2 = read_ivf_pq_store(spark, store)
    assert cents2.count() == 2 * G
    after = {r.vec_id: list(r.codes) for r in cells2.collect()}
    assert after != before  # new geometry, new residuals
    want2 = residual_codes(reingested, cents2.localCheckpoint()).collect()[0]
    assert after[0] == list(want2.codes)
    # and the retrained store still serves from its stored pieces
    assert len(serve(cells2, cents2, books2, True)) > 0

    # tag guards: every raw/residual mix refuses at plan build
    raw_books = pq_train(base, 8, 16, vec_col="vdbl", dim=DIM)
    with pytest.raises(ValueError, match="UNTAGGED"):
        ivf_pq_topk(
            base, residual=True, codebooks=raw_books, centroids=cents, dim=DIM
        )
    with pytest.raises(ValueError, match="residual tag"):
        ivf_pq_topk(base, codebooks=books, centroids=cents, dim=DIM)
    with pytest.raises(ValueError, match="residual tag"):
        pq_topk(base, books, vec_col="vdbl")
    base.unpersist()


def test_packed_codebooks_reject_ragged_or_sparse(spark):
    """pq scoring addresses codebook entries by array POSITION
    j·(kmax+1)+c+1, so a caller-supplied codebook with ragged
    per-sub-space entry counts or non-dense codes would silently
    corrupt every score — the pack must raise loudly instead. A valid
    externally-built codebook (uniform, dense) still encodes."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        pq_encode,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(4)
    schema = (
        "sub_id int, code int, cvec array<double>, cnorm_sq double"
    )
    v = [0.0] * 32

    def run(rows):
        books = spark.createDataFrame(rows, schema)
        return pq_encode(emb, books).collect()

    # uniform dense 2 sub-spaces x 2 codes: accepted
    ok = [(0, 0, v, 0.0), (0, 1, v, 0.0), (1, 0, v, 0.0), (1, 1, v, 0.0)]
    assert len(run(ok)) == 4

    # ragged: sub-space 1 has one entry fewer
    with pytest.raises((Py4JJavaError, PySparkException), match="uniform and dense"):
        run(ok[:3])
    # non-dense codes: sub-space 1 jumps 0 -> 2
    sparse = ok[:3] + [(1, 2, v, 0.0)]
    with pytest.raises((Py4JJavaError, PySparkException), match="uniform and dense"):
        run(sparse)
    # missing sub-space 0 entirely (codes dense per space, spaces not)
    missing = [(1, 0, v, 0.0), (1, 1, v, 0.0)]
    with pytest.raises((Py4JJavaError, PySparkException), match="uniform and dense"):
        run(missing)


def test_pq_adc_side_hook_matches_inline(spark):
    """pq_adc_side (r9): the (id, positions, reconstructed-norm)
    relation as a first-class persistable serving index. Passing it
    via adc_side= to BOTH query paths must reproduce the inline
    computation exactly (rows, ranks, scores) in double AND exact
    modes, and the residual branch refuses it (raw-layout norms)."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        ivf_pq_topk,
        pq_adc_side,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 16, "vec_id").localCheckpoint()
    for exact in (False, True):
        books = pq_train(
            base, num_subvectors=8, codes_per_subvector=16, vec_col="vdbl",
            dim=64, exact=exact,
        ).persist()
        codes = pq_encode(base, books, vec_col="vdbl", exact=exact).persist()
        side = pq_adc_side(codes, books, exact=exact).persist()
        inline_pq = sorted(map(tuple, pq_topk(
            base, books, codes=codes, query_ids_max=10, k=3, vec_col="vdbl",
            exact=exact,
        ).collect()))
        hooked_pq = sorted(map(tuple, pq_topk(
            base, books, codes=codes, query_ids_max=10, k=3, vec_col="vdbl",
            exact=exact, adc_side=side,
        ).collect()))
        assert hooked_pq == inline_pq and len(hooked_pq) > 0, exact
        inline_ipq = sorted(map(tuple, ivf_pq_topk(
            base, query_ids_max=10, k=3, probes=3, centroids=cents,
            codebooks=books, codes=codes, refine=6, exact=exact,
        ).collect()))
        hooked_ipq = sorted(map(tuple, ivf_pq_topk(
            base, query_ids_max=10, k=3, probes=3, centroids=cents,
            codebooks=books, codes=codes, refine=6, exact=exact,
            adc_side=side,
        ).collect()))
        assert hooked_ipq == inline_ipq and len(hooked_ipq) > 0, exact
        for df in (books, codes, side):
            df.unpersist()
    with pytest.raises(ValueError, match="adc_side"):
        ivf_pq_topk(
            base, centroids=cents, residual=True, dim=64,
            adc_side=spark.createDataFrame(
                [], "id_b long, _idx array<int>, _xn double"
            ),
        )
    # adc_side without the codebooks that produced it: the side's _idx
    # positions would mis-address freshly trained books' LUT entries —
    # same silent-mis-decode class as codes= without codebooks=, so it
    # refuses at plan-build (r9 review finding)
    with pytest.raises(ValueError, match="adc_side= without codebooks"):
        ivf_pq_topk(
            base, centroids=cents, dim=64,
            adc_side=spark.createDataFrame(
                [], "id_b long, _idx array<int>, _xn double"
            ),
        )


def test_audio_fingerprint_nonsilent_prefix_tolerance(spark, tmp_path):
    """NON-silent prefix robustness (r9, AUDIO_FP_ALGO v3): a prepended
    jingle the near-silence trim cannot remove drifts every frame
    boundary; v3's 4x-overlapped frames + strict-majority fold absorb
    it. The hard case is a frame-aligned loud/quiet block pattern
    (boundary crossings flip v2 bits decisively — the smooth envelope
    of the r8 test barely moves either rule): measured here, the v2
    single-estimate rule flips 14/64 bits for a 1.2% jingle (missed at
    max_hamming=6) while v3 flips 0; at 1.6% v3 reads 4, still inside
    the gate. The pair flags through the in-batch join AND the
    v3-stamped cross-run store, and a v2-era stamped call refuses."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        AUDIO_FP_ALGO,
        audio_near_dup_pairs,
        perceptual_hash_audio,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
    )

    loud = {s for s in range(64) if s % 3 == 0}
    base = []
    for s in range(64):
        amp = 1000 if s in loud else 10
        base.extend(amp if i % 2 == 0 else -amp for i in range(128))
    jingle = lambda k: [500 if i % 2 == 0 else -500 for i in range(k)]
    rows = [
        (1, _wav16(base)),
        (2, _wav16(jingle(96) + base)),   # 1.2% non-silent prefix
        (3, _wav16(jingle(128) + base)),  # 1.6%
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.simhash for r in perceptual_hash_audio(df).collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(got[1], got[2]) == 0
    assert ham(got[1], got[3]) <= 6

    # the v2 rule (64 non-overlapped frames, single estimate per bit)
    # recomputed inline on the SAME samples: the 1.2% prefix flips it
    # past the gate — the measured regression v3 exists to close
    def v2_fp(samples):
        n = len(samples)
        means = []
        for s in range(64):
            i0, i1 = s * n // 64, (s + 1) * n // 64
            seg = samples[i0:i1]
            means.append(sum(abs(v) for v in seg) / len(seg))
        mu = sum(means) / 64.0
        return [1 if m > mu else 0 for m in means]

    v2_base, v2_pref = v2_fp(base), v2_fp(jingle(96) + base)
    assert sum(a != b for a, b in zip(v2_base, v2_pref)) > 6

    pairs = {
        (r.id_a, r.id_b)
        for r in audio_near_dup_pairs(df, max_hamming=6).collect()
    }
    assert {(1, 2), (1, 3)} <= pairs

    # v3-stamped cross-run store: prefixed re-take flags against the
    # indexed original; a stale v2-era caller refuses instead of
    # silently missing post-upgrade near-dups
    store = str(tmp_path / "audio_prefix_store")
    assert incremental_hamming_dedup(
        perceptual_hash_audio(df.filter("doc_id = 1")), store, 0,
        algo=AUDIO_FP_ALGO,
    ).isEmpty()
    flagged = incremental_hamming_dedup(
        perceptual_hash_audio(df.filter("doc_id = 2")), store, 1,
        algo=AUDIO_FP_ALGO,
    )
    assert [(r.doc_id, r.dup_of, r.hamming) for r in flagged.collect()] == [
        (2, 1, 0)
    ]
    with pytest.raises(ValueError, match="era|v2|v3"):
        incremental_hamming_dedup(
            perceptual_hash_audio(df.filter("doc_id = 3")), store, 2,
            algo="audio/energy-contour/v2-silence-trim",
        )


def test_ivf_pq_residual_exact_mode(spark):
    """exact=True now composes with residual=True (r9): the decomposed
    dot(q,c) + LUT numerator folds as ONE exact decimal before the
    module's single double conversion, so the full IVFADC serve path —
    shortlist membership included — is engine-independent (the suite
    oracle replays it bitwise; this pins the Spark-side contracts).
    Covering refine reproduces ivf_topk exactly; persisted
    pq_train_residual(exact=True) books serve identically to inline
    training; the integer-space residual convention (quantize x and c
    SEPARATELY, subtract longs) is pinned against a sequential
    recompute of one codebook entry."""
    from pyspark.sql import functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        ivf_pq_topk,
        ivf_topk,
        pq_train_residual,
    )

    G, PER, DIM = 8, 30, 64
    rows = []
    for g in range(G):
        center = [((g * 31 + i * 7) % 17 - 8) / 4.0 for i in range(DIM)]
        for j in range(PER):
            p = g * PER + j
            delta = [((p * 13 + i * 5) % 9 - 4) / 40.0 for i in range(DIM)]
            rows.append((p, [center[i] + delta[i] for i in range(DIM)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()

    # covering refine: exact residual == ivf_topk, values bitwise
    full = sorted(
        map(
            tuple,
            ivf_pq_topk(
                base, query_ids_max=12, k=4, probes=3, centroids=cents,
                refine=10**6, dim=DIM, residual=True, exact=True,
            ).collect(),
        )
    )
    exact_ref = sorted(
        map(
            tuple,
            ivf_topk(
                base, query_ids_max=12, k=4, probes=3, centroids=cents
            ).collect(),
        )
    )
    assert full == exact_ref and len(full) > 0

    # tight refine: code-level pruning load-bearing, runs green, and
    # persisted exact residual books serve bitwise-identically to the
    # inline-trained path (same geometry, same picks)
    inline = sorted(
        map(
            tuple,
            ivf_pq_topk(
                base, query_ids_max=12, k=4, probes=3, centroids=cents,
                refine=6, dim=DIM, residual=True, exact=True,
            ).collect(),
        )
    )
    books = pq_train_residual(
        base, cents, 8, 16, vec_col="vdbl", dim=DIM, exact=True
    ).localCheckpoint()
    assert dict(books.dtypes)["cvec"] == "array<bigint>"
    assert "residual" in books.columns
    served = sorted(
        map(
            tuple,
            ivf_pq_topk(
                base, query_ids_max=12, k=4, probes=3, centroids=cents,
                refine=6, dim=DIM, residual=True, exact=True,
                codebooks=books,
            ).collect(),
        )
    )
    assert served == inline and len(inline) > 0

    # integer-space residual convention: one entry recomputed
    # sequentially — trunc-quantize x and its primary centroid
    # SEPARATELY, subtract in integer space
    import math

    ent = books.filter((F.col("sub_id") == 0) & (F.col("code") == 0)).first()
    # which corpus vector seeded (0, 0)? the md5('0|id') minimum —
    # replicate the pick, then its primary cell by exact-cosine rank
    import hashlib

    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    pick = min(ids, key=lambda i: (hashlib.md5(f"0|{i}".encode()).hexdigest(), i))
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    cvecs = {r.centroid_id: r.cvec for r in cents.collect()}
    q = lambda x: math.trunc(float(x) * 1e12)

    def cell_of(vid):
        xq = [q(v) for v in (float(x) for x in vecs[vid])]
        best = None
        for cid in sorted(cvecs):
            cq = [q(v) for v in cvecs[cid]]
            dot = sum(a * b for a, b in zip(xq, cq))
            nn = math.sqrt(sum(a * a for a in cq)) * math.sqrt(
                sum(a * a for a in xq)
            )
            score = dot / nn
            if best is None or score > best[0] or (
                score == best[0] and cid < best[1]
            ):
                best = (score, cid)
        return best[1]

    cid = cell_of(pick)
    want = [
        q(float(vecs[pick][i])) - q(cvecs[cid][i]) for i in range(8)
    ]
    assert list(ent.cvec) == want
    base.unpersist()


def test_ivf_store_refuses_exact_residual_books(spark, tmp_path):
    """The incremental IVF store is the production DOUBLE path; exact
    (quantized-long) residual books are a query-path oracle artifact.
    Feeding them to the store's batch encode must refuse at plan-build
    (_check_codebook_mode) instead of silently mis-encoding raw-scale
    sub-vectors against 1e12-scale entries."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        incremental_ivf_update,
        pq_train_residual,
    )

    rows = [
        (i, [((i * 13 + j * 5) % 9 - 4) / 8.0 for j in range(64)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 4, "vec_id").localCheckpoint()
    books_exact = pq_train_residual(
        base, cents, 8, 8, vec_col="vdbl", dim=64, exact=True
    ).localCheckpoint()
    with pytest.raises(ValueError, match="exact"):
        incremental_ivf_update(
            emb,
            str(tmp_path / "store"),
            batch_id=0,
            centroids=cents,
            pq_codebooks=books_exact,
        )
    base.unpersist()


def test_pair_scores_hook_matches_inline(spark):
    """pair_scores= (r9): the shared exact-cosine re-rank relation.
    Hooked output must be bitwise-identical to the inline path on BOTH
    serve functions and both PQ modes, and a relation that does not
    COVER the call's shortlist (min_cosine-filtered) must refuse
    loudly instead of silently dropping rows."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        cosine_for_pairs,
        ivf_assignments,
        ivf_candidate_pairs,
        ivf_pq_topk,
        ivf_topk,
    )

    rows = [
        (i, [((i * 13 + j * 5) % 9 - 4) / 8.0 for j in range(64)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()
    assign = ivf_assignments(
        base, 8, probes=3, vec_col="vdbl", centroids=cents, with_rank=True
    ).localCheckpoint()
    cand = ivf_candidate_pairs(assign, query_ids_max=12).localCheckpoint()
    scores = cosine_for_pairs(
        base, cand, exact_norms_in_base=False
    ).localCheckpoint()

    inline_qt = sorted(map(tuple, ivf_topk(
        base, query_ids_max=12, k=4, probes=3, assignments=assign, cand=cand,
    ).collect()))
    hooked_qt = sorted(map(tuple, ivf_topk(
        base, query_ids_max=12, k=4, probes=3, assignments=assign,
        cand=cand, pair_scores=scores,
    ).collect()))
    assert hooked_qt == inline_qt and len(hooked_qt) > 0

    for kw in ({"exact": False}, {"exact": True},
               {"residual": True, "exact": True, "centroids": cents}):
        inline_pq = sorted(map(tuple, ivf_pq_topk(
            base, query_ids_max=12, k=4, probes=3, refine=6, dim=64,
            assignments=assign, cand=cand, **kw,
        ).collect()))
        hooked_pq = sorted(map(tuple, ivf_pq_topk(
            base, query_ids_max=12, k=4, probes=3, refine=6, dim=64,
            assignments=assign, cand=cand, pair_scores=scores, **kw,
        ).collect()))
        assert hooked_pq == inline_pq and len(hooked_pq) > 0, kw

    # coverage mismatch refuses in-plan: a relation missing some of the
    # call's candidate pairs (here: every odd id_b — the stale-cand /
    # min_cosine-filtered class) — LEFT join + raise, not silent drop.
    # BOTH serve functions guard (ivf_topk checks when cand= is
    # alongside; alone there is no reference list)
    partial = scores.filter(F.col("id_b") % 2 == 0).localCheckpoint()
    with pytest.raises(SparkRuntimeException, match="pair_scores"):
        ivf_pq_topk(
            base, query_ids_max=12, k=4, probes=3, refine=6, dim=64,
            assignments=assign, cand=cand, pair_scores=partial, exact=True,
        ).collect()
    with pytest.raises(SparkRuntimeException, match="pair_scores"):
        ivf_topk(
            base, query_ids_max=12, k=4, probes=3, assignments=assign,
            cand=cand, pair_scores=partial,
        ).collect()
    # pair_scores= without cand= is refused at plan-build (r10):
    # ivf_topk alone has no reference list to coverage-check against,
    # so a relation scored over a different probe count / query set
    # would silently serve the wrong candidate set
    with pytest.raises(ValueError, match="without cand="):
        ivf_topk(
            base, query_ids_max=12, k=4, probes=3, assignments=assign,
            pair_scores=scores,
        )
    # duplicate (id_a, id_b) rows fan the ranking out and displace the
    # true k-th neighbor — the count(*) uniqueness window on the rank
    # exchange refuses
    doubled = scores.unionByName(scores).localCheckpoint()
    with pytest.raises(SparkRuntimeException, match="duplicate"):
        ivf_topk(
            base, query_ids_max=12, k=4, probes=3, assignments=assign,
            cand=cand, pair_scores=doubled,
        ).collect()
    with pytest.raises(SparkRuntimeException, match="duplicate"):
        ivf_pq_topk(
            base, query_ids_max=12, k=4, probes=3, refine=6, dim=64,
            assignments=assign, cand=cand, pair_scores=doubled, exact=True,
        ).collect()
    # a same-pair duplicate carrying two DIFFERENT scores (a stale
    # relation unioned with a rescored one) sorts NON-adjacent — the
    # r9 lag check missed it; the count(*) window catches it (r10)
    skewed = scores.unionByName(
        scores.withColumn("cosine", F.col("cosine") - F.lit(1e-3))
    ).localCheckpoint()
    with pytest.raises(SparkRuntimeException, match="duplicate"):
        ivf_topk(
            base, query_ids_max=12, k=4, probes=3, assignments=assign,
            cand=cand, pair_scores=skewed,
        ).collect()
    # and the uniqueness window must NOT cost an extra exchange: the
    # rank window's hash(id_a) already satisfies the (id_a, id_b)
    # clustered distribution, so checked and unchecked ranking tails
    # plan the same number of exchanges (the count window adds only an
    # in-partition sort)
    import re

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _rank_topk,
    )

    def n_exchanges(df):
        return len(re.findall(
            r"Exchange hashpartitioning",
            df._jdf.queryExecution().executedPlan().toString(),
        ))

    assert n_exchanges(_rank_topk(scores, 4, check_unique=True)) == \
        n_exchanges(_rank_topk(scores, 4, check_unique=False))
    base.unpersist()


def test_ivf_pq_residual_exact_persisted_codes(spark):
    """The persisted-codes flavor of exact residual serving: residuals
    encoded ONCE with pq_encode(prequantized exact) and served via
    codes= must reproduce the inline (fused encode) path bitwise —
    this exercises _residual_adc_side's codes-join branch in exact
    mode, where the centroid re-join quantizes in-row."""
    from pyspark.sql import functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        ivf_assignments,
        ivf_pq_topk,
        pq_encode,
        pq_train_residual,
        quantized_vector,
    )

    rows = [
        (i, [((i * 13 + j * 5) % 9 - 4) / 8.0 for j in range(64)])
        for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()
    books = pq_train_residual(
        base, cents, 8, 16, vec_col="vdbl", dim=64, exact=True
    ).localCheckpoint()
    # encode the integer-space residuals exactly as pq_train_residual
    # derives them (quantize x and c separately, subtract longs)
    assign1 = ivf_assignments(
        base, 8, probes=1, vec_col="vdbl", centroids=cents
    )
    res = (
        base.join(assign1, "vec_id")
        .join(
            F.broadcast(
                cents.select("centroid_id", F.col("cvec").alias("_cvec"))
            ),
            "centroid_id",
        )
        .select(
            "vec_id",
            F.zip_with(
                quantized_vector("vdbl"),
                quantized_vector("_cvec"),
                lambda a, b: a - b,
            ).alias("_rvec"),
        )
    )
    codes = pq_encode(
        res, books, vec_col="_rvec", exact=True, prequantized=True
    ).localCheckpoint()

    inline = sorted(map(tuple, ivf_pq_topk(
        base, query_ids_max=12, k=4, probes=3, refine=6, dim=64,
        centroids=cents, residual=True, exact=True,
    ).collect()))
    served = sorted(map(tuple, ivf_pq_topk(
        base, query_ids_max=12, k=4, probes=3, refine=6, dim=64,
        centroids=cents, codebooks=books, codes=codes,
        residual=True, exact=True,
    ).collect()))
    assert served == inline and len(served) > 0
    base.unpersist()


def test_shared_pick_and_serve_hooks_r10(spark):
    """The r10 sharing hooks, pinned: (a) pq_pick_ids-seeded books are
    bitwise-identical to the in-call seeded pick in all four train
    modes (raw/residual × double/exact); (b) ivf_pq_topk(pq_picks=)
    and serve_broadcast=False each leave the served output identical;
    (c) the new plan-build refusals (picks+lloyd, pq_picks+codebooks)
    and the in-plan picks geometry-mismatch raise fire; (d) the
    tokenized_docs/toks= hook leaves shingle_rows and BOTH
    chunk_level_dedup boundary modes value-identical."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        ivf_assignments,
        ivf_pq_topk,
        pq_pick_ids,
        pq_train,
        pq_train_residual,
    )

    rows = [
        (i, [((i * 17 + j * 3) % 11 - 5) / 8.0 for j in range(64)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()
    picks = pq_pick_ids(emb, 8, 16).localCheckpoint()

    # (a) identical books, all four modes
    for exact in (False, True):
        a = sorted(map(tuple, pq_train(emb, 8, 16, dim=64, exact=exact).collect()))
        b = sorted(map(tuple, pq_train(
            emb, 8, 16, dim=64, exact=exact, picks=picks
        ).collect()))
        assert a == b and len(a) == 128, ("raw", exact)
        a = sorted(map(tuple, pq_train_residual(
            emb, cents, 8, 16, dim=64, exact=exact
        ).collect()))
        b = sorted(map(tuple, pq_train_residual(
            emb, cents, 8, 16, dim=64, exact=exact, picks=picks
        ).collect()))
        assert a == b and len(a) == 128, ("residual", exact)

    # (b) served output invariant under pq_picks= and serve_broadcast=
    assign = ivf_assignments(
        base, 8, probes=3, vec_col="vdbl", centroids=cents, with_rank=True
    ).localCheckpoint()
    for kw in ({"exact": True}, {"exact": False}):
        ref = sorted(map(tuple, ivf_pq_topk(
            base, query_ids_max=10, k=3, probes=3, refine=5, dim=64,
            assignments=assign, centroids=cents, residual=True, **kw,
        ).collect()))
        hooked = sorted(map(tuple, ivf_pq_topk(
            base, query_ids_max=10, k=3, probes=3, refine=5, dim=64,
            assignments=assign, centroids=cents, residual=True,
            pq_picks=picks, **kw,
        ).collect()))
        streamed = sorted(map(tuple, ivf_pq_topk(
            base, query_ids_max=10, k=3, probes=3, refine=5, dim=64,
            assignments=assign, centroids=cents, residual=True,
            serve_broadcast=False, **kw,
        ).collect()))
        assert hooked == ref and streamed == ref and len(ref) > 0, kw
    # raw branch too (fused encode path), both toggles at once
    ref = sorted(map(tuple, ivf_pq_topk(
        base, query_ids_max=10, k=3, probes=3, refine=5, dim=64,
        assignments=assign, exact=True,
    ).collect()))
    both = sorted(map(tuple, ivf_pq_topk(
        base, query_ids_max=10, k=3, probes=3, refine=5, dim=64,
        assignments=assign, exact=True, pq_picks=picks,
        serve_broadcast=False,
    ).collect()))
    assert both == ref and len(ref) > 0

    # (c) refusals: picks seeds the md5 draw, Lloyd re-derives its own
    with pytest.raises(ValueError, match="picks="):
        pq_train(emb, 8, 16, dim=64, lloyd_rounds=1, picks=picks)
    # pq_picks with supplied codebooks would be silently ignored — refuse
    books = pq_train(emb, 8, 16, dim=64, exact=True, picks=picks)
    with pytest.raises(ValueError, match="pq_picks"):
        ivf_pq_topk(
            base, query_ids_max=10, k=3, probes=3, refine=5, dim=64,
            assignments=assign, codebooks=books.localCheckpoint(),
            exact=True, pq_picks=picks,
        )
    # picks built at a DIFFERENT geometry mis-address sub-spaces —
    # in-plan raise, never a plausibly-wrong book; the stamp catches a
    # SMALLER pick geometry too (an 8x8 picks passes every range check
    # AND the pack validator, which derives m*k from the book itself)
    for wrong in ((16, 16), (8, 8), (4, 16)):
        picks_w = pq_pick_ids(emb, *wrong).localCheckpoint()
        with pytest.raises(SparkRuntimeException, match="geometry"):
            pq_train(emb, 8, 16, dim=64, picks=picks_w).collect()
    # an unstamped relation cannot prove its geometry — plan-build
    with pytest.raises(ValueError, match="geometry-stamped"):
        pq_train(emb, 8, 16, dim=64, picks=picks.drop("_pm", "_pk"))

    # (d) toks= threading is value-neutral
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        chunk_level_dedup,
        shingle_rows,
        tokenized_docs,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (1, "alpha beta gamma delta epsilon zeta eta theta kappa"),
            (2, None),
            (3, "one two"),
            (4, "alpha beta gamma delta epsilon zeta eta theta iota x y z"),
        ],
        "doc_id long, text string",
    )
    toked = tokenized_docs(docs).persist()
    assert sorted(map(tuple, shingle_rows(docs, toks=toked).collect())) == \
        sorted(map(tuple, shingle_rows(docs).collect()))
    for mode_kw in ({"words_per_chunk": 4}, {"boundaries": "content"}):
        plain = sorted(map(tuple, chunk_level_dedup(docs, **mode_kw).collect()))
        hooked = sorted(map(tuple, chunk_level_dedup(
            docs, toks=toked, **mode_kw
        ).collect()))
        assert hooked == plain, mode_kw
    toked.unpersist()


def test_video_vote_quota_topup_and_sampler_anchors(spark):
    """The v2-pgate regimes the shift/near-dup tests degenerate past
    (their fixtures land on all-frames-vote or pure-gate): (a) the
    PARTIAL top-up regime 0 < gated < quota < n — gated frames all
    vote and the remainder tops up by smallest perceptual key, matched
    against an independent sequential recomputation; (b) the
    gate-empty cliff pair the review planted (9 frames none gated vs a
    copy with one inserted PASSING frame) stays paired; (c) a
    single-frame video fingerprints with one voter; (d) the
    sample_video_frames anchor modes directly: index slicing, the
    raw-byte content gate, and its all-frames fallback (that raw-byte
    mode is the TRAINING extractor — the fingerprint's perceptual key
    is pinned by the other tests)."""
    import hashlib as _hl
    import math as _math

    from crypto_data_pipeline_with_kafka_spark.multimodal import (
        VIDEO_FP_MIN_VOTERS,
        perceptual_hash_video,
        sample_video_frames,
        video_near_dup_pairs,
    )

    w = h = 32

    def y4m(frames):
        out = b"YUV4MPEG2 W32 H32 F25:1 Ip A1:1 Cmono\n"
        for f in frames:
            out += b"FRAME\n" + bytes(f)
        return out

    grad = [min(255, 4 * (x + y)) for y in range(h) for x in range(w)]

    def jitter(frame, i):
        out = list(frame)
        for p in range(i, len(out), 113):
            out[p] = min(255, out[p] + 1)
        return out

    def ref_ahash(px):
        means = []
        for gy in range(8):
            for gx in range(8):
                cell = [
                    px[y * w + x]
                    for y in range(gy * 4, gy * 4 + 4)
                    for x in range(gx * 4, gx * 4 + 4)
                ]
                means.append(sum(cell) / len(cell))
        mu = sum(means) / 64
        return ["1" if m > mu else "0" for m in means]

    def keyof(f):
        bits = "".join(ref_ahash(f))
        return int(_hl.md5(bits.encode()).hexdigest()[:13], 16), bits

    def sel(frames, n):
        ks = [keyof(f) for f in frames]
        quota = min(
            len(frames),
            max(VIDEO_FP_MIN_VOTERS, _math.ceil(len(frames) / n)),
        )
        g = sum(1 for k, _ in ks if k % n == 0)
        order = sorted(
            range(len(frames)),
            key=lambda i: (0 if ks[i][0] % n == 0 else 1, ks[i][0], ks[i][1]),
        )
        return sorted(order[: max(g, quota)])

    def ref_video(frames, n):
        idxs = sel(frames, n)
        s = [ref_ahash(frames[i]) for i in idxs]
        return "".join(
            "1" if sum(int(x[q]) for x in s) * 2 > len(s) else "0"
            for q in range(64)
        )

    # (a) partial top-up: 12 frames, exactly 2 gated at every_nth=10
    # (salt=0, asserted), quota 5 → 3 smallest-key top-ups
    partial = [
        jitter([min(255, (p * 3 + s * 5) % 249) for p in grad], s)
        for s in range(12)
    ]
    gated = [i for i, f in enumerate(partial) if keyof(f)[0] % 10 == 0]
    assert len(gated) == 2
    voters = sel(partial, 10)
    assert set(gated) <= set(voters) and len(voters) == 5
    # (c) single-frame video alongside
    df = spark.createDataFrame(
        [(1, y4m(partial)), (2, y4m([grad]))], "doc_id long, payload binary"
    )
    got = {
        r.doc_id: r for r in perceptual_hash_video(df, every_nth=10).collect()
    }
    assert got[1].n_frames_hashed == 5
    assert got[1].simhash == ref_video(partial, 10)
    assert got[2].n_frames_hashed == 1
    assert got[2].simhash == "".join(ref_ahash(grad))

    # (b) the review's cliff: none of 9 frames gated vs a copy with one
    # inserted PASSING frame (salts 1/32, asserted) — under the quota
    # both vote with their 5 smallest keys and the pair holds
    allfail = [
        jitter([min(255, (p + 7) % 251) for p in grad], s) for s in range(9)
    ]
    assert all(keyof(f)[0] % 10 != 0 for f in allfail)
    ins = jitter([min(255, (p + 32 * 13) % 253) for p in grad], 99)
    assert keyof(ins)[0] % 10 == 0
    cliff = spark.createDataFrame(
        [(1, y4m(allfail)), (2, y4m(allfail[:4] + [ins] + allfail[4:]))],
        "doc_id long, payload binary",
    )
    cpairs = {
        (r.id_a, r.id_b): r.hamming
        for r in video_near_dup_pairs(cliff, max_hamming=6, every_nth=10).collect()
    }
    assert (1, 2) in cpairs and cpairs[(1, 2)] <= 2

    # (d) the sampler's anchors directly
    vid = spark.createDataFrame(
        [(1, y4m(partial))], "doc_id long, payload binary"
    )
    by_index = sorted(
        r.frame_idx for r in sample_video_frames(vid, 5).collect()
    )
    assert by_index == [0, 5, 10]
    by_content = sorted(
        r.frame_idx
        for r in sample_video_frames(vid, 7, anchor="content").collect()
    )
    expect = [
        i
        for i, f in enumerate(partial)
        if int(_hl.md5(bytes(f)).hexdigest()[:13], 16) % 7 == 0
    ]
    assert by_content == (expect or list(range(12)))
    # gate-empty fallback: a divisor no frame's raw-byte md5 satisfies
    for n in range(1000, 2000):
        if all(
            int(_hl.md5(bytes(f)).hexdigest()[:13], 16) % n != 0
            for f in partial
        ):
            break
    fallback = sorted(
        r.frame_idx
        for r in sample_video_frames(vid, n, anchor="content").collect()
    )
    assert fallback == list(range(12))


def test_sq8_scalar_quantization(spark):
    """SQ8 codec (r10): (a) the affine int8 encode's reconstruction
    error is within scale/2 per component and codes stay in [0, 255]
    (flat vectors included — scale-1/all-zero-codes convention);
    (b) sq8_topk with a covering refine is IDENTICAL to
    brute_force_topk (the quantized scan only prunes who reaches the
    exact re-rank); (c) at the default refine the shortlist still
    recalls most true neighbors on the adversarial fixture;
    (d) serving from a persisted codes relation ≡ encoding on the
    fly;
    (e) exact mode (r11, the oracle-attested convention): a covering
    refine is IDENTICAL to brute_force_topk, and the persisted-codes
    exact serve is bitwise ≡ the on-the-fly exact serve at a pruning
    refine — the store layout (codes, scale, offset) alone determines
    shortlist membership;
    (f) zero-norm vectors raise loudly in BOTH modes instead of
    silently NULL-ranking (corpus side) or NULLing every pair (query
    side)."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        brute_force_topk,
        sq8_encode,
        sq8_topk,
    )

    rows = [
        (i, [((i * 13 + j * 7) % 17 - 8) / 9.0 for j in range(64)])
        for i in range(70)
    ] + [(70, [0.25] * 64)]  # flat vector: mx == mn
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    enc = {r.vec_id: r for r in sq8_encode(emb).collect()}
    for vid, vec in rows:
        r = enc[vid]
        assert all(0 <= c <= 255 for c in r.codes)
        for x, c in zip(vec, r.codes):
            xhat = r.offset + r.scale * c
            assert abs(float(x) - xhat) <= r.scale / 2 + 1e-9, (vid, x, xhat)
    assert enc[70].scale == 1.0 and all(c == 0 for c in enc[70].codes)

    ref = sorted(map(tuple, brute_force_topk(
        emb, query_ids_max=12, k=4
    ).collect()))
    covering = sorted(map(tuple, sq8_topk(
        emb, query_ids_max=12, k=4, refine=100
    ).collect()))
    assert covering == ref and len(ref) == 48

    # default refine (4k): recall of true top-4 membership per query
    got = sq8_topk(emb, query_ids_max=12, k=4).collect()
    ref_set = {(r[0], r[1]) for r in ref}
    got_set = {(r.id_a, r.id_b) for r in got}
    recall = len(ref_set & got_set) / len(ref_set)
    assert recall >= 0.9, recall  # SQ8's fidelity point (PQ sits lower)

    persisted = sq8_encode(emb).localCheckpoint()
    via_codes = sorted(map(tuple, sq8_topk(
        emb, codes=persisted, query_ids_max=12, k=4, refine=100
    ).collect()))
    assert via_codes == covering

    # (e) exact mode: covering refine ≡ brute force, and the persisted
    # store serves bitwise ≡ on-the-fly at a pruning refine (the
    # driver-attested convention — see _sq8_exact_shortlist)
    exact_cov = sorted(map(tuple, sq8_topk(
        emb, query_ids_max=12, k=4, refine=100, exact=True
    ).collect()))
    assert exact_cov == ref
    exact_fly = sorted(map(tuple, sq8_topk(
        emb, query_ids_max=12, k=4, refine=8, exact=True
    ).collect()))
    exact_store = sorted(map(tuple, sq8_topk(
        emb, codes=persisted, query_ids_max=12, k=4, refine=8, exact=True
    ).collect()))
    assert exact_store == exact_fly and len(exact_fly) == 48

    # (f) zero-norm guards, both modes, both sides
    zc = spark.createDataFrame(
        rows[:20] + [(99, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    zq = spark.createDataFrame(
        [(0, [0.0] * 64)] + rows[1:30], "vec_id long, embedding array<float>"
    )
    for mode in (False, True):
        with pytest.raises(Exception, match="zero-norm corpus vector"):
            sq8_topk(zc, query_ids_max=5, k=3, exact=mode).collect()
        with pytest.raises(Exception, match="zero-norm query vector"):
            sq8_topk(zq, query_ids_max=5, k=3, exact=mode).collect()


def test_bq1_binary_quantization(spark):
    """BQ1 codec (r11): (a) the sign-bit packing matches an
    independent Python reference bit-for-bit (MSB-first 32-bit lanes,
    zero-padded tail) at 64 dims and at a non-lane-aligned 70 dims;
    (b) bq_topk with a covering refine is IDENTICAL to
    brute_force_topk (the hamming scan only prunes who reaches the
    exact re-rank); (c) at a generous refine the shortlist still
    recalls most true neighbors on the adversarial fixture (hamming
    is a coarse angle estimate — BQ1's recall point sits below SQ8's);
    (d) serving from a persisted codes relation ≡ encoding on the
    fly; (e) zero vectors raise loudly at ENCODE time (sign(0) is
    indistinguishable from an all-negative vector later); (f) a codes
    relation packed at a different geometry refuses in-plan instead
    of hamming-comparing misaligned lanes."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        bq_encode,
        bq_topk,
    )

    rows = [
        (i, [((i * 13 + j * 7) % 17 - 8) / 9.0 for j in range(64)])
        for i in range(70)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # (a) packing vs an independent reference, 64-dim and 70-dim
    def ref_words(vec):
        nw = (len(vec) + 31) // 32
        out = []
        for w in range(nw):
            acc = 0
            for j in range(32):
                i = w * 32 + j
                acc = acc * 2 + (1 if i < len(vec) and vec[i] > 0 else 0)
            out.append(acc)
        return out

    enc = {r.vec_id: r for r in bq_encode(emb).collect()}
    for vid, vec in rows:
        assert enc[vid].dims == 64 and len(enc[vid].words) == 2
        assert enc[vid].words == ref_words([float(x) for x in vec]), vid
    odd = spark.createDataFrame(
        [(0, [(j % 5 - 2) / 3.0 for j in range(70)])],
        "vec_id long, embedding array<float>",
    )
    r70 = bq_encode(odd).collect()[0]
    assert r70.dims == 70 and len(r70.words) == 3
    assert r70.words == ref_words([(j % 5 - 2) / 3.0 for j in range(70)])

    # (b) covering refine ≡ brute force
    ref = sorted(map(tuple, brute_force_topk(
        emb, query_ids_max=12, k=4
    ).collect()))
    covering = sorted(map(tuple, bq_topk(
        emb, query_ids_max=12, k=4, refine=100
    ).collect()))
    assert covering == ref and len(ref) == 48

    # (c) recall of true top-4 membership at refine=16 (hamming over
    # 64 sign bits is coarse on this near-orthogonal fixture — the
    # bound asserts "useful first pass", not SQ8 fidelity)
    got = bq_topk(emb, query_ids_max=12, k=4, refine=16).collect()
    ref_set = {(r[0], r[1]) for r in ref}
    got_set = {(r.id_a, r.id_b) for r in got}
    assert len(ref_set & got_set) / len(ref_set) >= 0.5

    # (d) persisted store ≡ on-the-fly
    persisted = bq_encode(emb).localCheckpoint()
    via_codes = sorted(map(tuple, bq_topk(
        emb, codes=persisted, query_ids_max=12, k=4, refine=100
    ).collect()))
    assert via_codes == covering

    # (e) zero vector refuses at encode
    zv = spark.createDataFrame(
        rows[:10] + [(99, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="zero-norm vector 99"):
        bq_encode(zv).collect()

    # (f) geometry stamp: a 70-dim store cannot serve 64-dim queries
    store70 = bq_encode(
        spark.createDataFrame(
            [(i, [(j % 5 - 2 + i) / 3.0 for j in range(70)]) for i in range(30, 40)],
            "vec_id long, embedding array<float>",
        )
    ).localCheckpoint()
    with pytest.raises(Exception, match="lanes are positional"):
        bq_topk(emb, codes=store70, query_ids_max=5, k=3).collect()


def test_semantic_dedup_semdedup(spark):
    """SemDeDup composition (r11): over a planted corpus of 4 tight
    semantic groups (mutual cosine ≥ 0.99, cross-group ≈ 0) plus 4
    singletons — (a) with every cell probed the ε-ball groups are
    IDENTICAL to ground truth (connected components over exact
    all-pairs cosine), so the IVF composition loses nothing;
    (b) exactly one member per group survives, singletons are
    untouched; (c) the survivor is the member with the LOWEST
    centroid cosine (keep='farthest', the paper's diversity rule, id
    tie-break) and keep='closest' flips it; (d) at probes=1 recall is
    clustering-bounded (the documented contract — the seeded pick can
    drop twin centroids inside one tight group and split it) but
    precision stays 1.0: every emitted cluster is contained in a
    ground-truth cluster, still with exactly one survivor;
    (e) a bad keep= refuses."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        connected_components,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_dedup,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        all_pairs_cosine,
    )

    DIM = 16
    rows = []
    groups = {}  # gid -> member ids
    vid = 0
    for g in range(4):
        base = [1.0 if g * 4 <= j < g * 4 + 4 else 0.0 for j in range(DIM)]
        members = []
        for m in range(3):
            v = list(base)
            # tiny off-block component, different per member, so
            # within-group centroid cosines differ
            v[(g * 4 + 7) % DIM] += 0.03 * (m + 1)
            rows.append((vid, v))
            members.append(vid)
            vid += 1
        groups[g] = members
    singles = []
    for s in range(4):
        # alternating-sign patterns: far from every block group and
        # from each other
        v = [((-1.0) ** (j + s) * (1.0 + 0.1 * ((j + s) % 3))) for j in range(DIM)]
        v[s] += 2.5
        rows.append((vid, v))
        singles.append(vid)
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # ground truth ε-ball groups from exact all-pairs cosine
    truth_pairs = all_pairs_cosine(emb, min_cosine=0.95)
    truth = {
        r.doc_id: r.canonical_id
        for r in connected_components(truth_pairs).collect()
    }
    assert set(truth) == {i for ms in groups.values() for i in ms}

    # (a)+(b)+(c): every cell probed -> the candidate set covers all
    # pairs, so groups are exactly ground truth
    out = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=8, probes=8, threshold=0.95
    ).collect()}
    assert len(out) == len(rows)
    for i, can in truth.items():
        assert out[i].cluster_id == can, i
    for s in singles:
        assert out[s].cluster_id is None and not out[s].is_duplicate
    for g, ms in groups.items():
        survivors = [i for i in ms if not out[i].is_duplicate]
        assert len(survivors) == 1, g
        # (c) farthest-from-centroid keep rule, id tie-break
        want = min(ms, key=lambda i: (out[i].centroid_cosine, i))
        assert survivors[0] == want, g

    # (d) probes=1: precision 1.0, one survivor per emitted cluster
    one = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=8, probes=1, threshold=0.95
    ).collect()}
    by_cluster = {}
    for i, r in one.items():
        if r.cluster_id is not None:
            by_cluster.setdefault(r.cluster_id, []).append(i)
    assert by_cluster  # the tight fixture always yields SOME clusters
    for cid, ms in by_cluster.items():
        assert len(ms) >= 2
        assert len({truth.get(i, ("single", i)) for i in ms}) == 1, ms
        assert sum(not one[i].is_duplicate for i in ms) == 1, ms
    for s in singles:
        assert one[s].cluster_id is None and not one[s].is_duplicate

    closest = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=8, probes=8, threshold=0.95, keep="closest"
    ).collect()}
    for g, ms in groups.items():
        surv = [i for i in ms if not closest[i].is_duplicate]
        want = min(ms, key=lambda i: (-closest[i].centroid_cosine, i))
        assert surv == [want], g

    with pytest.raises(ValueError, match="farthest"):
        semantic_dedup(emb, keep="best")


def test_semantic_dedup_real_embeddings_table(spark):
    """semantic_dedup over the real sf0.001 embeddings table (500
    vectors, near-dup band at cosine ≥ 0.4 — the corpus the registered
    dedup_embedding_cosine brute-force query reads): with every cell
    probed the ε-ball groups equal brute-force ground truth and each
    group keeps exactly one survivor; at a realistic probes=3 every
    emitted cluster stays inside a ground-truth cluster (precision
    1.0) while recall is clustering-bounded."""
    from crypto_data_pipeline_with_kafka_spark.catalog import load_table
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        connected_components,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_dedup,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        all_pairs_cosine,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    truth = {
        r.doc_id: r.canonical_id
        for r in connected_components(
            all_pairs_cosine(emb, min_cosine=0.4)
        ).collect()
    }
    assert truth  # the synthetic corpus has a real 0.4 band

    C = 22  # ~sqrt(500), the auto rule's neighborhood
    full = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=C, probes=C, threshold=0.4
    ).collect()}
    assert len(full) == 500
    for i, can in truth.items():
        assert full[i].cluster_id == can, i
    clusters = {}
    for i, r in full.items():
        if r.cluster_id is not None:
            clusters.setdefault(r.cluster_id, []).append(i)
        else:
            assert i not in truth and not r.is_duplicate
    for cid, ms in clusters.items():
        assert sum(not full[i].is_duplicate for i in ms) == 1, cid

    probed = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=C, probes=3, threshold=0.4
    ).collect()}
    by_cluster = {}
    for i, r in probed.items():
        if r.cluster_id is not None:
            by_cluster.setdefault(r.cluster_id, []).append(i)
    assert by_cluster
    for cid, ms in by_cluster.items():
        # precision 1.0: an emitted cluster never spans truth clusters
        assert len({truth[i] for i in ms}) == 1, ms
        assert sum(not probed[i].is_duplicate for i in ms) == 1


def test_semantic_dedup_caches_out_param_releases_base(spark):
    """semantic_dedup's cache lifecycle (r12 contract): caches= hands
    back EVERY internal persist — prepared base, seeded centroids,
    ranked assignments, centrality — so a non-bench caller releases
    them without a global clearCache(); an already-prepared base
    passes through and is never appended (the other three still are).
    (Census via the SQL CacheManager — the component
    connected_components localCheckpoints are RDD-level and out of
    scope, as documented on the ngram census test.)"""
    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_dedup,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        with_dbl_and_approx_norm,
    )

    rows = [
        (i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert jcm.isEmpty()

    caches: list = []
    n = semantic_dedup(
        emb, num_centroids=4, probes=2, threshold=0.9, caches=caches
    ).count()
    assert n == 20 and len(caches) == 4
    assert not jcm.isEmpty()
    for c in caches:
        c.unpersist()
    assert jcm.isEmpty()

    # prepared base: pass-through, NOT appended (the caller owns it);
    # the three derived persists still ride the out-param
    base = with_dbl_and_approx_norm(emb).persist()
    caches2: list = []
    semantic_dedup(
        base, num_centroids=4, probes=2, threshold=0.9, vec_col="vdbl",
        caches=caches2,
    ).count()
    assert len(caches2) == 3
    assert all(c is not base for c in caches2)
    for c in caches2:
        c.unpersist()
    base.unpersist()
    assert jcm.isEmpty()
    spark.catalog.clearCache()


def test_semantic_decontaminate(spark):
    """Embedding-space decontamination (r11): (a) flags exactly the
    corpus vectors within the cosine threshold of any benchmark item,
    with emitted cosines matching a sequential exact-decimal reference
    bitwise (the module's trunc·1e12 quantized convention);
    (b) sub-threshold pairs are absent; (c) an empty benchmark flags
    nothing; (d) one corpus doc near TWO benchmark items emits both
    pairs."""
    from decimal import Decimal

    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_decontaminate,
    )

    def q(x):
        return int(Decimal(float(x)) * (10 ** 12))  # trunc toward zero

    def exact_cos(a, b):
        qa, qb = [q(x) for x in a], [q(x) for x in b]
        num = sum(x * y for x, y in zip(qa, qb))
        na = sum(x * x for x in qa) ** 0.5
        nb = sum(x * x for x in qb) ** 0.5
        return float(str(Decimal(num))) / (na * nb)

    import numpy as np

    bench_vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
    }
    corpus_vecs = {
        10: [0.99, 0.05, 0.0, 0.0],   # near bench 0
        11: [0.0, 0.0, 1.0, 0.0],     # near nothing
        12: [0.7, 0.7, 0.0, 0.0],     # ~0.707 to both: below 0.9
        13: [0.95, 0.0, 0.3, 0.0],    # near bench 0
        14: [0.05, 0.99, 0.0, 0.0],   # near bench 1
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in corpus_vecs.items()],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(i, v) for i, v in bench_vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.bench_id): r.cosine
        for r in semantic_decontaminate(emb, bench, min_cosine=0.9).collect()
    }

    want = {}
    for ci, cv in corpus_vecs.items():
        cv32 = [float(np.float32(x)) for x in cv]
        for bi, bv in bench_vecs.items():
            bv32 = [float(np.float32(x)) for x in bv]
            c = exact_cos(cv32, bv32)
            if c >= 0.9:
                want[(ci, bi)] = c
    assert set(want) == {(10, 0), (13, 0), (14, 1)}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])  # bitwise

    # (c) empty benchmark
    assert semantic_decontaminate(emb, bench.limit(0), 0.9).isEmpty()

    # (d) a doc near two benchmark items emits both pairs
    twin = spark.createDataFrame(
        [(20, [0.7071, 0.7071, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    both = semantic_decontaminate(twin, bench, min_cosine=0.7).collect()
    assert {(r.vec_id, r.bench_id) for r in both} == {(20, 0), (20, 1)}

    # (e) zero-norm vectors refuse loudly on BOTH sides — a zero
    # vector would otherwise NULL its cosines and silently evade the
    # gate
    zc = spark.createDataFrame(
        [(30, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="zero-norm corpus vector 30"):
        semantic_decontaminate(zc, bench, 0.9).collect()
    with pytest.raises(Exception, match="zero-norm benchmark vector 30"):
        semantic_decontaminate(
            emb, zc.withColumnRenamed("vec_id", "vec_id"), 0.9
        ).collect()


def test_mrl_truncated_dimension_serving(spark):
    """Matryoshka truncated-dimension top-k (r11): (a) a covering
    refine is IDENTICAL to brute_force_topk (the prefix scan only
    prunes who reaches the full-dimension exact re-rank); (b) on an
    information-front-loaded (MRL-style) fixture the prefix-16-of-64
    shortlist recalls the true top-k at the default refine; (c) on the
    NON-front-loaded adversarial fixture the same prefix recalls
    less — the honest distinction the docstring draws; (d) an all-zero
    PREFIX (legal for non-MRL embeddings) ranks last instead of
    erroring, and covering refine still matches brute force; (e) a
    non-truncating prefix_dims refuses in-plan, refine < k and
    prefix_dims < 1 refuse eagerly."""
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        mrl_topk,
    )

    # (a)+(c): the standard adversarial (near-orthogonal) fixture
    rows = [
        (i, [((i * 13 + j * 7) % 17 - 8) / 9.0 for j in range(64)])
        for i in range(70)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ref = sorted(map(tuple, brute_force_topk(
        emb, query_ids_max=12, k=4
    ).collect()))
    cov = sorted(map(tuple, mrl_topk(
        emb, prefix_dims=16, query_ids_max=12, k=4, refine=100
    ).collect()))
    assert cov == ref and len(ref) == 48
    ref_set = {(r[0], r[1]) for r in ref}
    # refine = k, the tightest shortlist — the operating point where
    # front-loadedness matters (at the default 4k refine both fixtures
    # saturate to recall 1.0 on 70 rows)
    got_flat = mrl_topk(
        emb, prefix_dims=16, query_ids_max=12, k=4, refine=4
    ).collect()
    recall_flat = len(ref_set & {(r.id_a, r.id_b) for r in got_flat}) / len(
        ref_set
    )

    # (b): front-loaded fixture — leading dims carry the signal
    # (geometric decay), exactly the structure MRL training produces
    fl_rows = [
        (
            i,
            [
                (((i * 13 + j * 7) % 17 - 8) / 9.0) * (0.8 ** j)
                for j in range(64)
            ],
        )
        for i in range(70)
    ]
    fl = spark.createDataFrame(fl_rows, "vec_id long, embedding array<float>")
    fl_ref = sorted(map(tuple, brute_force_topk(
        fl, query_ids_max=12, k=4
    ).collect()))
    fl_ref_set = {(r[0], r[1]) for r in fl_ref}
    fl_got = mrl_topk(
        fl, prefix_dims=16, query_ids_max=12, k=4, refine=4
    ).collect()
    recall_fl = len(fl_ref_set & {(r.id_a, r.id_b) for r in fl_got}) / len(
        fl_ref_set
    )
    assert recall_fl >= 0.95, recall_fl  # measured 1.0
    assert recall_flat <= 0.95, recall_flat  # measured 0.917
    assert recall_fl > recall_flat, (recall_fl, recall_flat)

    # (d): zero PREFIX, non-zero tail — recoverable, not an error
    zp = spark.createDataFrame(
        rows[:20]
        + [(90, [0.0] * 16 + [0.5] * 48)],
        "vec_id long, embedding array<float>",
    )
    zp_ref = sorted(map(tuple, brute_force_topk(
        zp, query_ids_max=5, k=3
    ).collect()))
    zp_cov = sorted(map(tuple, mrl_topk(
        zp, prefix_dims=16, query_ids_max=5, k=3, refine=30
    ).collect()))
    assert zp_cov == zp_ref

    # (e) guards
    with pytest.raises(Exception, match="non-truncating prefix"):
        mrl_topk(emb, prefix_dims=64, query_ids_max=5, k=3).collect()
    with pytest.raises(ValueError, match="refine"):
        mrl_topk(emb, prefix_dims=16, k=5, refine=2)
    with pytest.raises(ValueError, match="prefix_dims"):
        mrl_topk(emb, prefix_dims=0)


def test_semantic_dedup_lloyd_refined_centroids(spark):
    """semantic_dedup's lloyd_rounds path: refined centroids feed both
    the cell assignment and the centrality join — with every cell
    probed the groups still equal brute-force ground truth, one
    survivor per group, and the exported centroid_cosine column is
    populated (the keep rule ran against the REFINED centroids)."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        connected_components,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_dedup,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        all_pairs_cosine,
    )

    rows = []
    for g in range(3):
        base = [1.0 if g * 4 <= j < g * 4 + 4 else 0.0 for j in range(12)]
        for m in range(3):
            v = list(base)
            v[(g * 4 + 5) % 12] += 0.02 * (m + 1)
            rows.append((g * 3 + m, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    truth = {
        r.doc_id: r.canonical_id
        for r in connected_components(
            all_pairs_cosine(emb, min_cosine=0.95)
        ).collect()
    }
    out = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=3, probes=3, threshold=0.95, lloyd_rounds=2
    ).collect()}
    assert len(out) == 9
    for i, can in truth.items():
        assert out[i].cluster_id == can, i
    for g in range(3):
        ms = [g * 3, g * 3 + 1, g * 3 + 2]
        assert sum(not out[i].is_duplicate for i in ms) == 1, g
        assert all(out[i].centroid_cosine is not None for i in ms)


def test_semantic_dedup_custom_vec_col(spark):
    """semantic_dedup under a NON-default vec_col (r11 advice: the
    parameter used to break for any name other than 'embedding'/'vdbl'
    on the hard-coded preparation column): results are identical to
    the default-named run, and the internal persist is handed back via
    caches= even when the input carries decoy vdbl/norm_sq columns
    that the vec_col select drops (the leaked-persist edge)."""
    from pyspark.sql import functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.01]),
        (1, [1.0, 0.0, 0.0, 0.02]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = sorted(
        (r.vec_id, r.cluster_id, r.is_duplicate)
        for r in semantic_dedup(
            emb, num_centroids=4, probes=4, threshold=0.95
        ).collect()
    )

    renamed = emb.withColumnRenamed("embedding", "sentence_vec")
    caches: list = []
    got = sorted(
        (r.vec_id, r.cluster_id, r.is_duplicate)
        for r in semantic_dedup(
            renamed, num_centroids=4, probes=4, threshold=0.95,
            vec_col="sentence_vec", caches=caches,
        ).collect()
    )
    assert got == want
    # base + cents + assignments + centrality (the r12 contract:
    # caches= receives every internal persist)
    assert len(caches) == 4
    for c in caches:
        c.unpersist()

    # the cache-handback edge: decoy vdbl/norm_sq columns alongside a
    # DIFFERENT vec_col — the prepared base must still be handed back
    decoy = renamed.withColumn(
        "vdbl", F.expr("transform(sentence_vec, x -> cast(x as double))")
    ).withColumn("norm_sq", F.lit(1.0))
    caches2: list = []
    got2 = sorted(
        (r.vec_id, r.cluster_id, r.is_duplicate)
        for r in semantic_dedup(
            decoy, num_centroids=4, probes=4, threshold=0.95,
            vec_col="sentence_vec", caches=caches2,
        ).collect()
    )
    assert got2 == want
    assert len(caches2) == 4
    for c in caches2:
        c.unpersist()


def test_mrl_prefix_store_and_exact_mode(spark):
    """r12 MRL serve additions: (a) serving from a PERSISTED
    mrl_prefix_encode store (prefix=) is row-identical to the inline
    slice at every refine tried; (b) a store sliced at different
    pdims refuses in-plan (geometry stamp); (c) exact=True emits the
    same rows as the double mode on the adversarial fixture (clear
    score gaps — membership agrees away from ulp boundaries) and with
    a covering refine is IDENTICAL to brute force; (d) the exact mode
    works against the prefix store too (store round trip + exact
    shortlist composed)."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        brute_force_topk,
        mrl_prefix_encode,
        mrl_topk,
    )

    rows = [
        (i, [((i * 13 + j * 7) % 17 - 8) / 9.0 for j in range(64)])
        for i in range(70)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    store = mrl_prefix_encode(emb, 16).localCheckpoint()
    for refine in (4, 16):
        inline = sorted(map(tuple, mrl_topk(
            emb, prefix_dims=16, query_ids_max=12, k=4, refine=refine
        ).collect()))
        stored = sorted(map(tuple, mrl_topk(
            emb, prefix_dims=16, query_ids_max=12, k=4, refine=refine,
            prefix=store,
        ).collect()))
        assert stored == inline, refine

    with pytest.raises(Exception, match="pdims"):
        mrl_topk(
            emb, prefix_dims=8, query_ids_max=12, k=4, prefix=store
        ).collect()

    ref = sorted(map(tuple, brute_force_topk(
        emb, query_ids_max=12, k=4
    ).collect()))
    ex_cov = sorted(map(tuple, mrl_topk(
        emb, prefix_dims=16, query_ids_max=12, k=4, refine=100, exact=True
    ).collect()))
    assert ex_cov == ref
    dbl = sorted(map(tuple, mrl_topk(
        emb, prefix_dims=16, query_ids_max=12, k=4, refine=4
    ).collect()))
    ex = sorted(map(tuple, mrl_topk(
        emb, prefix_dims=16, query_ids_max=12, k=4, refine=4, exact=True
    ).collect()))
    assert ex == dbl
    ex_store = sorted(map(tuple, mrl_topk(
        emb, prefix_dims=16, query_ids_max=12, k=4, refine=4, exact=True,
        prefix=store,
    ).collect()))
    assert ex_store == ex
    spark.catalog.clearCache()


def test_semantic_dedup_exact_mode_equivalence(spark):
    """exact=True (the oracle-attested mode, r12) changes ONLY the
    numeric representation of centroid_cosine: groups, flags, and the
    survivor pick are identical to the double mode when centroid
    cosines are GAP-separated (at ulp-ties the two modes may
    legitimately differ — exactly why the attested mode exists), and
    the exact-mode cosines sit within double-noise of the double
    mode's. Fixture design: the three md5-FIRST ids (27, 63, 60 among
    0-99) carry pure-block ANCHOR vectors, so the seeded pick at C=3
    selects exactly the anchors and every member's primary centroid is
    its group anchor — member centroid-cosines then differ by ≥ 1e-3
    (no self-centroid ulp noise deciding the keep rule)."""
    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_dedup,
    )

    DIM = 16
    groups = {0: (27, [83, 65]), 1: (63, [76, 44]), 2: (60, [94, 49])}
    rows = []
    for g, (anchor, members) in groups.items():
        base = [1.0 if g * 5 <= j < g * 5 + 5 else 0.0 for j in range(DIM)]
        rows.append((anchor, list(base)))
        for m, vid in enumerate(members):
            v = list(base)
            v[(g * 5 + 7) % DIM] += 0.15 * (m + 1)
            rows.append((vid, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    dbl = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=3, probes=3, threshold=0.95
    ).collect()}
    exa = {r.vec_id: r for r in semantic_dedup(
        emb, num_centroids=3, probes=3, threshold=0.95, exact=True
    ).collect()}
    assert set(dbl) == set(exa) == {i for i, _ in rows}
    for i in dbl:
        assert dbl[i].cluster_id == exa[i].cluster_id, i
        assert dbl[i].is_duplicate == exa[i].is_duplicate, i
        assert abs(dbl[i].centroid_cosine - exa[i].centroid_cosine) < 1e-9, i
    # the structure is the planted one: each group is one cluster
    # keyed by its min id, surviving exactly its farthest member
    for g, (anchor, members) in groups.items():
        ids = [anchor] + members
        cid = min(ids)
        assert all(exa[i].cluster_id == cid for i in ids), g
        surv = [i for i in ids if not exa[i].is_duplicate]
        assert surv == [members[-1]], g  # largest perturbation
    spark.catalog.clearCache()


def test_duplicated_spans_exactsubstr_semantics(spark):
    """duplicated_spans (Lee et al. ExactSubstr at k-gram granularity):
    a shared 8-token run surfaces as ONE maximal span in each document
    (correct boundaries in both, despite different offsets), a doc
    repeating its own 5-token run back-to-back self-flags as ONE
    maximal covered span over both copies (instance counting + the
    coverage-adjacency island merge: the two duplicated 5-gram starts
    sit exactly k apart, so their coverage windows touch), an
    all-unique doc emits nothing, and sub-k sharing is invisible (the
    detection quantum)."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        duplicated_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h U0 x y"),
            (1, "P1 a b c d e f g h T1"),
            (2, "r s t u v r s t u v"),
            (3, "q w e r t z u i o p"),
            # 4-token overlap with doc 0 — below k=5, must NOT flag
            (4, "e f g h W4 W5 W6 W7 W8"),
            # doc 5's duplicated 5-gram starts are {0, 2} — within k
            # but NOT consecutive (the gram at 1 is unique): two
            # OVERLAPPING coverage windows [0,5) and [2,7) that must
            # merge into ONE maximal span [0,7), not two rows that
            # double-count tokens 2..4
            (5, "x1 x2 x3 x4 x5 x6 x7"),
            (6, "N1 x1 x2 x3 x4 x5 N2"),
            (7, "M1 x3 x4 x5 x6 x7"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.span_start): r
        for r in duplicated_spans(docs, k=5, min_count=2).collect()
    }
    assert set(got) == {(0, 0), (1, 1), (2, 0), (5, 0), (6, 1), (7, 1)}
    s5 = got[(5, 0)]
    assert (s5.span_end, s5.n_tokens, s5.span_text) == (
        7, 7, "x1 x2 x3 x4 x5 x6 x7"
    )
    assert (got[(6, 1)].span_end, got[(6, 1)].span_text) == (
        6, "x1 x2 x3 x4 x5"
    )
    assert (got[(7, 1)].span_end, got[(7, 1)].span_text) == (
        6, "x3 x4 x5 x6 x7"
    )
    s0 = got[(0, 0)]
    assert (s0.span_end, s0.n_tokens, s0.span_text) == (
        8, 8, "a b c d e f g h"
    )
    s1 = got[(1, 1)]
    assert (s1.span_end, s1.n_tokens, s1.span_text) == (
        9, 8, "a b c d e f g h"
    )
    # doc 2's duplicated 5-gram starts {0, 5} are exactly k apart:
    # coverage windows [0,5) and [5,10) touch -> ONE maximal span
    # covering the whole doc, with n_tokens counting each token once
    s2 = got[(2, 0)]
    assert (s2.span_end, s2.n_tokens, s2.span_text) == (
        10, 10, "r s t u v r s t u v"
    )
    # guards: the k-gram quantum and the instance floor are contracts
    import pytest as _pytest

    with _pytest.raises(ValueError):
        duplicated_spans(docs, k=0)
    with _pytest.raises(ValueError):
        duplicated_spans(docs, min_count=1)
    spark.catalog.clearCache()


def test_remove_duplicated_spans_cleanup(spark):
    """remove_duplicated_spans (the ExactSubstr removal half): tokens
    inside every detected span are cut and the remainder reassembled
    in order; a fully-duplicated doc survives as empty clean_text
    (n_kept=0, caller's drop decision); untouched docs pass through
    verbatim; and a precomputed spans= relation short-circuits
    re-detection (reuse hook)."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h U0 x y"),
            (1, "P1 a b c d e f g h T1"),
            (2, "r s t u v r s t u v"),
            (3, "q w e r t z u i o p"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in remove_duplicated_spans(docs, k=5, min_count=2).collect()
    }
    assert (got[0].clean_text, got[0].n_kept, got[0].n_total) == (
        "U0 x y", 3, 11
    )
    assert (got[1].clean_text, got[1].n_kept, got[1].n_total) == (
        "P1 T1", 2, 10
    )
    assert (got[2].clean_text, got[2].n_kept, got[2].n_total) == (
        "", 0, 10
    )
    assert (got[3].clean_text, got[3].n_kept, got[3].n_total) == (
        "q w e r t z u i o p", 10, 10
    )
    # reuse hook: feeding the precomputed spans yields identical output
    sp = duplicated_spans(docs, k=5, min_count=2)
    again = {
        r.doc_id: r
        for r in remove_duplicated_spans(docs, spans=sp).collect()
    }
    assert {d: (r.clean_text, r.n_kept) for d, r in got.items()} == {
        d: (r.clean_text, r.n_kept) for d, r in again.items()
    }
    # user-supplied spans may OVERLAP, arrive unsorted, or run past the
    # document ends — the sorted-boundary walk must union them, never
    # double-cut or crash (duplicated_spans output is always disjoint;
    # this pins the spans= hook's robustness)
    raw = spark.createDataFrame(
        [(3, 6, 9), (3, 2, 5), (3, 4, 7), (3, 8, 99)],
        ["doc_id", "span_start", "span_end"],
    )
    messy = {
        r.doc_id: r
        for r in remove_duplicated_spans(docs, spans=raw).collect()
    }
    # doc 3 = "q w e r t z u i o p": union of [2,5)+[4,7)+[6,9)+[8,99)
    # clipped to 10 tokens covers [2,10) -> keep tokens 0-1
    assert (messy[3].clean_text, messy[3].n_kept, messy[3].n_total) == (
        "q w", 2, 10
    )
    for d in (0, 1, 2):  # spanless docs pass through verbatim
        assert messy[d].n_kept == messy[d].n_total
    spark.catalog.clearCache()


def test_curate_corpus_exact_substr_stage(spark):
    """exact_substr threaded through curate_corpus: the shared
    boilerplate run is cut out of surviving docs (both copies), the
    stats account tokens and dropped docs, and a doc reduced to
    nothing drops from the curated output entirely."""
    from crypto_data_pipeline_with_kafka_spark.curation import curate_corpus

    body0 = " ".join(f"a{j}" for j in range(25))
    body1 = " ".join(f"b{j}" for j in range(25))
    # two distinct boilerplates: doc 2 is their concatenation — all
    # distinct tokens (passes every quality/repetition gate) yet fully
    # covered by cross-doc duplicated spans, so it is reduced to
    # nothing at THIS stage, not an upstream one
    lic = "LIC c1 c2 c3 c4 c5 c6 c7 END"  # 9 tokens, shared with doc 0
    hdr = "COPY h1 h2 h3 h4 h5 h6 h7 h8 h9 h10 FIN"  # 12, with doc 1
    docs = spark.createDataFrame(
        [
            (0, f"{body0} {lic}"),
            (1, f"{hdr} {body1} extra0 extra1"),
            (2, f"{lic} {hdr}"),
        ],
        ["doc_id", "text"],
    )
    cur, st = curate_corpus(
        spark,
        docs,
        min_words=5,
        minhash_jaccard=0.95,
        exact_substr=True,
        exact_substr_k=5,
    )
    texts = {r.doc_id: r.text for r in cur.collect()}
    assert 0 in texts and 1 in texts
    assert "LIC" not in texts[0] and "END" not in texts[0]
    assert texts[0] == body0
    assert "COPY" not in texts[1] and texts[1].endswith("extra0 extra1")
    assert 2 not in texts  # fully covered by duplicated spans -> dropped
    assert st["exactsubstr_docs_dropped"] == 1
    assert (
        st["exactsubstr_tokens_kept"] < st["exactsubstr_tokens_total"]
    )
    # knob typos fail FAST (head-of-function, before any stage runs) —
    # and unconditionally, the chunk_boundaries precedent
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exact_substr_min_count"):
        curate_corpus(
            spark, docs, exact_substr=True, exact_substr_min_count=1
        )
    with _pytest.raises(ValueError, match="exact_substr_k"):
        curate_corpus(spark, docs, exact_substr_k=0)
    spark.catalog.clearCache()


def test_duplicated_spans_matches_sequential_reference(spark):
    """duplicated_spans vs a brute-force sequential reference on
    random small-alphabet corpora (4 symbols force dense k-gram
    collisions — coverage-adjacency island merges, doc-spanning runs,
    within-doc repeats and full-coverage cases all occur): identical
    span sets including boundaries and span text, across seeds; and
    remove_duplicated_spans' sorted-boundary walk reassembles exactly
    the tokens OUTSIDE the reference coverage set."""
    import random

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    k = 3
    rng = random.Random(13)
    for trial in range(3):
        rows = []
        for d in range(6):
            n = rng.randint(0, 18)
            rows.append(
                (d, " ".join(rng.choice("abcd") for _ in range(n)))
                if n
                else (d, None)
            )
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_text)
            for r in duplicated_spans(docs, k=k, min_count=2).collect()
        }
        # --- sequential reference ---
        toks = {d: t.split(" ") for d, t in rows if t is not None}
        from collections import Counter

        cnt: Counter = Counter()
        for ws in toks.values():
            for i in range(len(ws) - k + 1):
                cnt[tuple(ws[i : i + k])] += 1
        expected = set()
        for d, ws in toks.items():
            dup = [
                i
                for i in range(len(ws) - k + 1)
                if cnt[tuple(ws[i : i + k])] >= 2
            ]
            run_start = None
            prev = None
            for i in dup + [None]:
                # coverage adjacency: starts within k have touching or
                # overlapping [pos, pos+k) windows -> same maximal span
                if i is not None and prev is not None and i - prev <= k:
                    prev = i
                    continue
                if run_start is not None:
                    s, e = run_start, prev + k
                    expected.add((d, s, e, " ".join(ws[s:e])))
                run_start, prev = i, i
        assert got == expected, (trial, got ^ expected)
        # removal half vs the reference coverage set (union of spans)
        rem = {
            r.doc_id: r
            for r in remove_duplicated_spans(
                docs, k=k, min_count=2
            ).collect()
        }
        assert set(rem) == set(toks)  # null-text rows dropped
        for d, ws in toks.items():
            cov = set()
            for dd, s, e, _ in expected:
                if dd == d:
                    cov.update(range(s, e))
            kept = [t for i, t in enumerate(ws) if i not in cov]
            r = rem[d]
            assert (r.clean_text, r.n_kept, r.n_total) == (
                " ".join(kept), len(kept), len(ws)
            ), (trial, d)
    spark.catalog.clearCache()
