from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions import (
    cosine_topk,
    exact_dedup_keys,
    fingerprints,
    lang_id,
    lsh_topk,
    minhash_lsh_pairs,
    neardup_pairs,
    ngram_jaccard_pairs,
    quality_scores,
    simhash_pairs,
    text_stats,
)
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
    shingled_arrays,
)
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.multimodal import (
    decode_image_meta,
    frame_sample,
    media_stats,
    parse_image_header,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different words entirely unrelated text here now"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (5, "short text"),
        (6, "el perro que corre por la calle una vez"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles(spark, docs):
    out = shingled_arrays(docs, "text", "doc_id", 3).collect()
    by_id = {r["doc_id"]: r["shingles"] for r in out}
    assert "the quick brown" in by_id[1]
    assert len(by_id[1]) == 7  # 9 tokens -> 7 trigrams, all distinct
    assert 5 not in by_id      # shorter than k: no row


def test_exact_dedup(spark, docs):
    out = exact_dedup_keys(docs)
    dup = out.filter(F.col("n_copies") > 1).collect()
    assert len(dup) == 1
    assert dup[0]["canonical_id"] == 1 and dup[0]["n_copies"] == 2
    assert out.count() == 5  # 6 docs, one collapsed


def test_ngram_jaccard_finds_neardup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0       # exact dup
    assert (1, 2) in pairs and 0.4 < pairs[(1, 2)] < 0.8  # near dup
    assert (2, 4) in pairs
    assert not any(3 in p or 5 in p or 6 in p for p in pairs)


def test_ngram_jaccard_df_cut_safe(spark):
    """A df-cut above the corpus's near-dup shingle frequencies must leave
    the pair set IDENTICAL (drops only index bulk, not recall); an absurdly
    low cut must not crash (it may only lose candidates, never invent
    pairs)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()}
    assert len(base) > 0
    cut = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, threshold=0.6, max_df=50).collect()}
    assert cut == base
    tiny = {(r["id_a"], r["id_b"]) for r in
            ngram_jaccard_pairs(docs, threshold=0.6, max_df=1).collect()}
    assert tiny <= set(base)


def test_minhash_lsh_catches_exact_and_near(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(docs, k=3, threshold=0.3).collect()}
    # exact dup must always collide in every band
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    # verified jaccard means zero false positives vs the exact operator
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()}
    for p, j in pairs.items():
        assert p in exact and abs(exact[p] - j) < 1e-12


def test_simhash_exact_dup_distance_zero(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs.get((1, 4)) == 0  # identical text -> identical simhash


def test_text_stats_and_quality(spark, docs):
    st = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert st[1]["n_tokens"] == 9
    assert st[1]["n_unique_tokens"] == 8  # 'the' twice
    assert st[5]["n_tokens"] == 2

    qs = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert qs[1]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' x2
    assert 0.0 <= qs[1]["quality_score"] <= 1.0
    assert qs[1]["punct_ratio"] == 0.0


def test_lang_id_heuristic(spark, docs):
    out = {r["doc_id"]: r["detected_lang"] for r in lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[6] == "es"    # el/que/una hits
    assert out[5] == "und"   # no stopword hits at all
    zh = spark.createDataFrame([(9, "你好世界")], "doc_id long, text string")
    assert lang_id(zh).first()["detected_lang"] == "zh"


def test_fingerprints(spark, docs):
    fp = {r["doc_id"]: r for r in fingerprints(docs, k=3).collect()}
    assert fp[1]["content_md5"] == fp[4]["content_md5"]
    assert fp[1]["min_shingle_hash"] == fp[4]["min_shingle_hash"]
    assert fp[1]["content_md5"] != fp[2]["content_md5"]
    assert fp[5]["min_shingle_hash"] is None  # too short for shingles


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),    # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 0
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(spark, vectors):
    qs = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(vectors, qs, k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in rows] == [1, 4]
    assert rows[0]["cosine_sim"] == pytest.approx(0.9 / math.sqrt(0.81 + 0.01))
    assert rows[0]["rank"] == 1


def test_hard_negative_topk_excludes_own_label(spark, vectors):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        hard_negative_topk,
    )
    labeled = vectors.withColumn(
        "label", (F.col("vec_id") % 2).cast("int")
    )
    qs = labeled.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = sorted(hard_negative_topk(labeled, qs, k=3).collect(),
                 key=lambda r: r["rank"])
    # query 0 has label 0; only odd vec_ids (label 1) are eligible
    assert all(r["vec_id"] % 2 == 1 for r in out)
    # brute-force check: score every other-label vector, take top-3
    import numpy as np
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in labeled.collect()}
    qv = rows[0]
    sims = sorted(
        ((vid, float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))))
         for vid, v in rows.items() if vid % 2 == 1),
        key=lambda t: (-t[1], t[0]),
    )
    assert [r["vec_id"] for r in out] == [vid for vid, _ in sims[:3]]
    for r, (_, s) in zip(out, sims):
        assert r["cosine_sim"] == pytest.approx(s)


def test_hard_negative_topk_label_cardinality_guard(spark):
    """The label-vocabulary collect is bounded BY CODE (round-12 ADVICE):
    >10k distinct labels means 'label' is not a class dimension, and the
    miner refuses to inline the vocabulary instead of OOMing the driver.
    The limit caps the transfer before the check, so even the refused
    call never pulls more than max_labels+1 rows."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        hard_negative_topk,
    )

    wide = spark.range(10_001).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        F.col("id").cast("string").alias("label"),
    )
    qs = wide.limit(1).select(F.col("vec_id").alias("query_id"),
                              "embedding", "label")
    with pytest.raises(ValueError, match="distinct values"):
        hard_negative_topk(wide, qs, k=2)


def test_neardup_pairs_embedding(spark, vectors):
    out = {(r["id_a"], r["id_b"]): r["cosine_sim"]
           for r in neardup_pairs(vectors, threshold=0.9).collect()}
    assert list(out) == [(0, 1)]


def test_lsh_topk_subset_of_exact(spark, vectors):
    qs = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = cosine_topk(vectors, qs, k=3).collect()
    lsh = lsh_topk(vectors, qs, k=3, n_planes=4, dim=4).collect()
    exact_ids = {r["vec_id"] for r in ann}
    for r in lsh:
        # ANN results are a subset of the corpus and scored identically
        assert r["cosine_sim"] <= max(x["cosine_sim"] for x in ann) + 1e-12
    # the query's own bucket contains at least itself-adjacent vectors
    assert len(lsh) <= 3


def test_fold_cosine_bitwise_equals_hof(spark):
    """The numpy scoring kernel (``_fold_dot``'s left fold, in query
    chunks) must replay the HOF cosine bit-for-bit: every ANN path scores
    with it while the HOF form stays the oracle-parity reference."""
    import numpy as np

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        SCORE_CELLS, _cosine_rows, cosine,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    hof = {
        (r["qid"], r["vec_id"]): r["hof"]
        for r in emb.crossJoin(F.broadcast(qs)).select(
            "qid", "vec_id",
            cosine(F.col("embedding"), F.col("qe")).alias("hof"),
        ).collect()
    }
    rows = emb.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qm = m[:3]
    assert [r["vec_id"] for r in rows[:3]] == [0, 1, 2]
    got = {}
    for lo, sims in _cosine_rows(qm, m, SCORE_CELLS):
        for i, row in enumerate(sims):
            got.update({(lo + i, vid): float(x) for vid, x in zip(ids, row)})
    assert len(got) == len(hof) == 3 * len(ids) > 0
    # exact equality — no tolerance: a single differing ULP fails
    assert got == hof


def test_scoring_chunks_do_not_change_results(spark, monkeypatch):
    """Query chunking is invisible: with the score buffer capped at a few
    cells (one query per chunk, and chunks that split a list's queries),
    cosine_topk, semantic_dedup_pairs and ivf_topk return exactly the
    rows of the default cap."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions import (
        similarity,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter("vec_id % 25 = 0").select(
        F.col("vec_id").alias("query_id"), "embedding")

    def outputs():
        return [
            sorted(map(tuple, df.collect())) for df in (
                similarity.cosine_topk(emb, qs, k=5),
                similarity.semantic_dedup_pairs(emb, threshold=0.3,
                                                n_lists=4, sample_size=64),
                similarity.ivf_topk(emb, qs, k=5, n_lists=8, n_probe=3,
                                    refine_iters=1, sample_size=64),
            )
        ]

    default = outputs()
    assert all(default)
    monkeypatch.setattr(similarity, "SCORE_CELLS", 7)
    assert outputs() == default


def test_blas_grid_candidates_match_bruteforce(spark):
    """The distributed block-grid candidate generator must yield EXACTLY the
    brute-force pair set (guard band + exact verify), with no driver-side
    collect anywhere in the plan."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    blas = neardup_pairs(emb, threshold=0.45, blas_candidates=True)
    plan = blas._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # the per-cell GEMM
    brute = neardup_pairs(emb, threshold=0.45, blas_candidates=False)
    got = sorted((r["id_a"], r["id_b"], r["cosine_sim"]) for r in blas.collect())
    want = sorted((r["id_a"], r["id_b"], r["cosine_sim"]) for r in brute.collect())
    assert got == want
    assert len(got) > 0


# --- multimodal plumbing ---------------------------------------------------

PNG_1x2 = (
    b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
    + (1).to_bytes(4, "big") + (2).to_bytes(4, "big") + b"\x08\x06\x00\x00\x00"
)


def test_parse_image_header_png():
    assert parse_image_header(PNG_1x2) == ("png", 1, 2)
    assert parse_image_header(b"garbage") == ("unknown", None, None)
    assert parse_image_header(None) == (None, None, None)


def test_decode_image_meta_mapinpandas(spark):
    rows = [(1, "image", bytearray(PNG_1x2), "mem://a"),
            (2, "image", bytearray(b"junkdata"), "mem://b")]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, source_uri string"
    )
    out = {r["media_id"]: r for r in decode_image_meta(df).collect()}
    assert out[1]["format"] == "png" and out[1]["width"] == 1 and out[1]["height"] == 2
    assert out[2]["format"] == "unknown" and out[2]["width"] is None
    assert out[1]["n_bytes"] == len(PNG_1x2)

    stats = media_stats(df).first()
    assert stats["n_items"] == 2


def test_wav_build_parse_roundtrip():
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.multimodal import (
        build_wav, parse_wav_header,
    )
    wav = build_wav(16000, 2, 16, 500)
    assert parse_wav_header(wav) == ("wav", 2, 16000, 16, 500)
    assert len(wav) == 44 + 500 * 2 * 2
    assert parse_wav_header(b"RIFFxxxxJUNK") == ("unknown", None, None, None, None)
    assert parse_wav_header(None) == (None, None, None, None, None)


def test_decode_audio_meta_mapinpandas(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.multimodal import (
        build_wav, decode_audio_meta, synth_wav,
    )
    rows = [(1, bytearray(build_wav(8000, 1, 16, 800))),
            (2, bytearray(b"not audio at all"))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r["media_id"]: r for r in decode_audio_meta(df).collect()}
    assert out[1]["format"] == "wav" and out[1]["channels"] == 1
    assert out[1]["sample_rate"] == 8000 and out[1]["n_frames"] == 800
    assert out[1]["duration_ms"] == 100  # 800 frames @ 8 kHz
    assert out[2]["format"] == "unknown" and out[2]["sample_rate"] is None

    # synth -> decode closes the loop with id-derived parameters
    ids = spark.range(7).select(F.col("id").alias("media_id"))
    decoded = {r["media_id"]: r
               for r in decode_audio_meta(synth_wav(ids)).collect()}
    for i in range(7):
        assert decoded[i]["sample_rate"] == 8000 * (1 + i % 3)
        assert decoded[i]["channels"] == 1 + i % 2
        assert decoded[i]["n_frames"] == 100 + i % 900


def test_frame_sample_fan_out(spark):
    frame = 4  # bytes per frame
    payload = bytes(range(43))  # 10 full frames + 3 trailing bytes
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b""))],
        "media_id long, content binary",
    )
    out = frame_sample(df, frame_size=frame, every_n=3).collect()
    got = {(r["media_id"], r["frame_idx"]): r for r in out}
    # media 1: frames 0,3,6,9 survive; media 2 fans out to nothing
    assert set(got) == {(1, 0), (1, 3), (1, 6), (1, 9)}
    assert bytes(got[(1, 3)]["frame_bytes"]) == payload[12:16]
    assert got[(1, 9)]["byte_start"] == 36
    with pytest.raises(ValueError):
        frame_sample(df, frame_size=0)


def test_connected_components_and_cluster_dedup(spark, docs):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        connected_components,
        dedup_clusters,
    )

    # chain 1-2, 2-4 (transitive cluster) and an isolated pair 5-6
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (5, 6)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 4: 1, 5: 5, 6: 5}

    out = {r["doc_id"]: r for r in dedup_clusters(docs, edges).collect()}
    assert out[4]["component"] == 1 and not out[4]["is_canonical"]
    assert out[1]["is_canonical"]
    assert out[3]["component"] == 3 and out[3]["is_canonical"]  # singleton
    survivors = [d for d, r in out.items() if r["is_canonical"]]
    assert sorted(survivors) == [1, 3, 5]


def test_collocations_lift_and_mincount(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        collocations,
    )
    # "new york" always collocates; "the cat"/"the dog" dilute "the"
    df = spark.createDataFrame(
        [(1, "new york new york new york"),
         (2, "the cat saw the dog in new york"),
         (3, "the dog saw the cat")],
        "doc_id long, text string",
    )
    out = collocations(df, min_count=2, k=5).collect()
    by_pair = {(r["w1"], r["w2"]): r for r in out}
    ny = by_pair[("new", "york")]
    # counts: 'new' x4, 'york' x4, bigram 'new york' x4; N=19 tokens, M=16
    assert (ny["n_xy"], ny["n_x"], ny["n_y"]) == (4, 4, 4)
    assert ny["lift"] == pytest.approx((4 * 19 * 19) / (16 * 4 * 4))
    # perfect collocation outranks the diluted 'the *' pairs
    assert out[0]["w1"] == "new" and out[0]["w2"] == "york"
    # min_count prunes singletons ('saw the' occurs twice, 'in new' once)
    assert ("in", "new") not in by_pair


def test_strip_markup_entities_and_ratio(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        strip_markup,
    )
    df = spark.createDataFrame(
        [
            (1, '<p>hello  <b>world</b></p>'),
            (2, 'a &amp;lt;b&gt; &nbsp; c'),   # &amp;lt; decodes to &lt;
            (3, ''),
            (4, 'no markup at all'),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_markup(df).collect()}
    assert out[1]["clean_text"] == "hello world" and out[1]["n_tags"] == 4
    # amp-last ordering: '&amp;lt;' -> literal '&lt;', not '<'
    assert out[2]["clean_text"] == "a &lt;b> c"
    assert out[3]["clean_text"] == "" and out[3]["markup_ratio"] == 0.0
    assert out[4]["clean_text"] == "no markup at all"
    assert out[4]["n_tags"] == 0 and out[4]["markup_ratio"] == 0.0


def test_incremental_components_equals_full_recompute(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        connected_components,
        incremental_components,
    )

    # corpus graph: {1,2,4} and {5,6}; 7 is a labeled singleton
    old_edges = spark.createDataFrame(
        [(1, 2), (2, 4), (5, 6)], "id_a long, id_b long"
    )
    labels = connected_components(old_edges).unionByName(
        spark.createDataFrame([(7, 7)], "node long, component long")
    )
    # batch: bridges the two components via new node 9, adds a fresh pair
    new_edges = spark.createDataFrame(
        [(4, 9), (9, 6), (10, 11)], "id_a long, id_b long"
    )
    inc = {r["node"]: r["component"]
           for r in incremental_components(labels, new_edges).collect()}
    full = {r["node"]: r["component"]
            for r in connected_components(
                old_edges.unionByName(new_edges)).collect()}
    full[7] = 7  # singleton appears in no edge; carried by the label table
    assert inc == full
    assert inc[6] == 1 and inc[9] == 1 and inc[10] == 10 and inc[7] == 7
    # the distributed fallback (driver_max_edges=0 forces it) agrees with
    # the driver-side union-find path
    dist = {r["node"]: r["component"]
            for r in incremental_components(
                labels, new_edges, driver_max_edges=0).collect()}
    assert dist == inc


def test_bpe_token_count_vs_whitespace(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        bpe_token_count,
        token_count,
    )
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "it's a test, really!"), (3, "abc123 x-y")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["ws"], r["bpe"]) for r in df.select(
        "doc_id",
        token_count("text").alias("ws"),
        bpe_token_count("text").cast("int").alias("bpe"),
    ).collect()}
    assert out[1] == (2, 2)
    # "it's a test, really!" -> it|'s|a|test|,|really|! = 7 BPE vs 4 ws
    assert out[2][0] == 4 and out[2][1] == 7
    # "abc123 x-y" -> abc|123|x|-|y = 5 BPE vs 2 ws
    assert out[3] == (2, 5)


def test_repetition_scores(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        repetition_scores,
    )
    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),      # trigram 'a b c' repeats
         (2, "one two three four five")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_scores(df, k=3).collect()}
    assert out[1]["top_kgram_count"] == 3   # 'a b c' occurs 3x in 7 grams
    assert out[1]["n_kgrams"] == 7
    assert out[2]["top_kgram_count"] == 1   # no repetition
    assert out[2]["repetition_ratio"] == pytest.approx(1 / 3)


def test_ivf_topk_recall_and_determinism(spark):
    import math as m
    import random

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions import (
        ivf_topk,
    )

    rng = random.Random(11)
    # 4 well-separated cluster directions in 64-dim; vectors = center + noise
    centers = [[1.0 if i // 16 == c else 0.0 for i in range(64)] for c in range(4)]
    rows = []
    for vid in range(200):
        c = centers[vid % 4]
        v = [x + rng.gauss(0, 0.05) for x in c]
        n = m.sqrt(sum(x * x for x in v))
        rows.append((vid, [float(x / n) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    exact = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(emb, qs, k=5).collect()}
    got1 = ivf_topk(emb, qs, k=5, n_lists=8, n_probe=4).collect()
    got2 = ivf_topk(emb, qs, k=5, n_lists=8, n_probe=4).collect()
    # deterministic run-to-run
    assert sorted((r["query_id"], r["vec_id"], r["rank"]) for r in got1) == \
           sorted((r["query_id"], r["vec_id"], r["rank"]) for r in got2)
    # clusters are separated, probes cover half the lists: high recall
    ivf = {(r["query_id"], r["vec_id"]) for r in got1}
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.8, recall
    # every IVF hit scores the true cosine (exact re-score, no estimate)
    exact_scores = {(r["query_id"], r["vec_id"]): r["cosine_sim"]
                    for r in cosine_topk(emb, qs, k=200).collect()}
    for r in got1:
        assert r["cosine_sim"] == exact_scores[(r["query_id"], r["vec_id"])]


def test_ivf_lloyd_refinement_beats_seed_draw(spark):
    """Sampled Lloyd refinement must IMPROVE recall@k over the raw md5
    seed-draw centroids on clustered data (the seed draw can land two
    centroids in one cluster, leaving another unrepresented), while staying
    deterministic run-to-run."""
    import hashlib

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions import (
        ivf_topk,
    )

    def h(s):  # deterministic pseudo-random in [-1, 1], no RNG state
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 0x7FFFFFFF - 1.0

    DIM, NCLUST, N = 64, 8, 200
    centers = [[h(f"c:{c}:{d}") for d in range(DIM)] for c in range(NCLUST)]
    rows = []
    for i in range(N):
        c = centers[i % NCLUST]
        rows.append((i, [float(c[d] + 0.05 * h(f"n:{i}:{d}"))
                         for d in range(DIM)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(emb, qs, k=5).collect()}

    def recall(iters):
        got = {(r["query_id"], r["vec_id"])
               for r in ivf_topk(emb, qs, k=5, n_lists=8, n_probe=1,
                                 refine_iters=iters).collect()}
        return len(got & truth) / len(truth)

    r0, r2 = recall(0), recall(2)
    assert r2 > r0, (r0, r2)
    # refined index stays deterministic
    a = sorted(map(tuple, ivf_topk(emb, qs, k=5, n_lists=8, n_probe=1,
                                   refine_iters=2).collect()))
    b = sorted(map(tuple, ivf_topk(emb, qs, k=5, n_lists=8, n_probe=1,
                                   refine_iters=2).collect()))
    assert a == b


# --- round-2 training-data extensions --------------------------------------


def test_ngram_contamination(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.contamination import (
        ngram_contamination,
    )
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "totally unrelated words here now"),
         (3, "beta gamma delta zeta")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix beta gamma delta suffix")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r
           for r in ngram_contamination(train, bench, n=3).collect()}
    # docs 1 and 3 share the 'beta gamma delta' trigram; doc 2 is clean
    assert set(out) == {1, 3}
    assert out[1]["n_hits"] == 1 and out[1]["n_shingles"] == 3
    assert out[1]["hit_ratio"] == pytest.approx(1 / 3)
    assert out[3]["n_hits"] == 1 and out[3]["n_shingles"] == 2


def test_weighted_sample_bias_and_determinism(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sampling import (
        weighted_sample,
    )
    # 500 light rows (w=1) + 500 heavy rows (w=50): the heavy half must
    # dominate the sample, and two runs must agree exactly
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, F.lit(1.0)).otherwise(F.lit(50.0)).alias("w"),
    )
    s1 = sorted(r["doc_id"] for r in
                weighted_sample(df, "w", 100, id_col="doc_id").collect())
    s2 = sorted(r["doc_id"] for r in
                weighted_sample(df, "w", 100, id_col="doc_id").collect())
    assert s1 == s2 and len(s1) == 100
    heavy = sum(1 for i in s1 if i >= 500)
    assert heavy > 80  # E[heavy] ~ 98 under proportional-to-weight
    # a different salt draws a (near-certainly) different sample
    s3 = sorted(r["doc_id"] for r in
                weighted_sample(df, "w", 100, id_col="doc_id",
                                salt="other").collect())
    assert s3 != s1
    # non-positive weights are never sampled
    df0 = df.withColumn("w", F.when(F.col("doc_id") == 0, F.lit(-1.0))
                        .otherwise(F.col("w")))
    assert 0 not in {r["doc_id"] for r in
                     weighted_sample(df0, "w", 1000, id_col="doc_id").collect()}


def test_kmv_distinct_accuracy(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sketches import (
        kmv_distinct,
    )
    # group 'big': 5000 distinct values estimated with k=256 (~6% stderr);
    # group 'small': 10 distinct -> exact
    df = spark.range(5000).select(
        F.lit("big").alias("g"), F.col("id").alias("v")
    ).unionByName(
        spark.range(10).select(F.lit("small").alias("g"),
                               (F.col("id") + 100000).alias("v"))
    )
    out = {r["g"]: r for r in kmv_distinct(df, ["g"], "v", k=256).collect()}
    assert out["small"]["est_distinct"] == 10.0
    assert out["small"]["sketch_k"] == 10
    assert out["big"]["sketch_k"] == 256
    assert abs(out["big"]["est_distinct"] - 5000) / 5000 < 0.25
    with pytest.raises(ValueError):
        kmv_distinct(df, ["g"], "v", k=1)


def _hll_reference(values, b=8):
    """Driver-side replay of the exact hll_distinct pipeline: 60-bit md5
    prefix, register = h mod m, rank = maxr - bit_length(w)."""
    import hashlib

    m, maxr = 1 << b, 61 - b
    regs = {}
    for v in set(values):
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        j, w = h % m, h // m
        rank = maxr if w == 0 else maxr - w.bit_length()
        regs[j] = max(regs.get(j, 0), rank)
    units = (sum(1 << (maxr - r) for r in regs.values())
             + (m - len(regs)) * (1 << maxr))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return {"zero_registers": m - len(regs), "harmonic_units": units,
            "est_hll": alpha * m * m * float(1 << maxr) / float(units)}


def test_hll_distinct_exact_registers_and_accuracy(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sketches import (
        hll_distinct,
    )

    df = spark.range(5000).select(
        F.lit("big").alias("g"), F.col("id").alias("v")
    ).unionByName(
        spark.range(10).select(F.lit("small").alias("g"),
                               (F.col("id") + 100000).alias("v"))
    )
    out = {r["g"]: r for r in hll_distinct(df, ["g"], "v", b=8).collect()}
    # bit-exact vs the driver-side replay of the same md5 register pipeline
    for g, vals in (("big", range(5000)), ("small", range(100000, 100010))):
        want = _hll_reference(vals)
        got = out[g]
        assert got["zero_registers"] == want["zero_registers"]
        assert got["harmonic_units"] == want["harmonic_units"]
        assert got["est_hll"] == want["est_hll"]
    # raw-estimate accuracy at 5000 distinct (m=256 -> ~6.5% stderr)
    assert abs(out["big"]["est_hll"] - 5000) / 5000 < 0.25
    # cardinality, not frequency: duplicating every row changes nothing
    dup = {r["g"]: r for r in
           hll_distinct(df.unionByName(df), ["g"], "v", b=8).collect()}
    assert {g: (r["harmonic_units"], r["est_hll"]) for g, r in out.items()} \
        == {g: (r["harmonic_units"], r["est_hll"]) for g, r in dup.items()}
    with pytest.raises(ValueError):
        hll_distinct(df, ["g"], "v", b=2)


def test_redact_pii(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        redact_pii,
    )
    df = spark.createDataFrame(
        [(1, "mail a.b+c@test.org or call +1-555-0100 twice a.b+c@test.org"),
         (2, "no pii here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["redacted_text"] == "mail <EMAIL> or call <PHONE> twice <EMAIL>"
    assert out[1]["n_emails"] == 2 and out[1]["n_phones"] == 1
    assert out[2]["redacted_text"] == "no pii here"
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0


def test_tfidf_top_terms(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        tfidf_top_terms,
    )
    df = spark.createDataFrame(
        [(1, "apple apple banana common"),
         (2, "banana cherry common"),
         (3, "common common cherry")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top1 = {d: sorted(rs, key=lambda r: r["rk"])[0] for d, rs in by_doc.items()}
    # 'apple' is doc 1's signature term: tf=2, df=1 -> highest score
    assert top1[1]["term"] == "apple" and top1[1]["tf"] == 2 and top1[1]["df"] == 1
    # 'common' appears in every doc -> idf = ln(1) = 0, never ranks first
    assert all(t["term"] != "common" for t in top1.values())
    assert all(len(rs) <= 2 for rs in by_doc.values())


def test_training_corpus_pipeline_invariants(spark):
    """End-to-end composition (dedup -> quality -> decontam -> pack): the
    output manifest must exclude benchmark docs, contain no duplicated
    content, and tile each surviving document exactly."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = e.queries()["training_corpus"](spark, sf)
    rows = out.collect()
    assert rows, "pipeline produced an empty manifest"
    # benchmark subset excluded
    assert all(r["doc_id"] % e.DECONTAM_BENCH_MOD != 0 for r in rows)
    # segments tile each doc: sum(seg_tokens) == n_tokens
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], [0, r["n_tokens"]])
        per_doc[r["doc_id"]][0] += r["seg_tokens"]
    assert all(s == n for s, n in per_doc.values())
    # surviving docs are content-unique (dedup stage held)
    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        F.col("doc_id").isin(list(per_doc))
    )
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), "\\s+", " ")))
    assert docs.select(fp).distinct().count() == len(per_doc)


def test_triangle_count_known_graphs(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        triangle_count,
    )

    def run(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        r = triangle_count(df).first()
        return (r["n_nodes"], r["n_edges"], r["n_triangles"])

    # K4: 4 nodes, 6 edges, 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert run(k4) == (4, 6, 4)
    # 4-cycle: no triangles
    assert run([(0, 1), (1, 2), (2, 3), (0, 3)]) == (4, 4, 0)
    # reversed / duplicated edges normalize to the same triangle
    messy = [(1, 0), (0, 1), (1, 2), (0, 2), (2, 1)]
    assert run(messy) == (3, 3, 1)
    # star: hub with 4 leaves, no closure
    assert run([(0, i) for i in range(1, 5)]) == (5, 4, 0)


def test_triangle_degree_orientation_tames_hub(spark):
    """On a low-id hub star, degree orientation must collapse the wedge
    fan-out: canonical (a < b) orientation gives the hub C(n, 2) wedges;
    degree orientation points every leaf AT the hub, so out-degrees are 1
    and the wedge count is ~0.  Counts stay correct on a star + one
    attached triangle."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        _orient_by_degree,
        triangle_count,
    )

    n = 50
    star = [(0, i) for i in range(1, n + 1)]          # hub id 0, degree 50
    edges = star + [(1, 2)]                            # closes triangle 0-1-2
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    canon = df.select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).distinct()
    # canonical orientation: wedge mass = sum over a of C(outdeg, 2)
    def wedge_mass(o, src):
        outdeg = [r["n"] for r in o.groupBy(src).agg(
            F.count(F.lit(1)).alias("n")).collect()]
        return sum(d * (d - 1) // 2 for d in outdeg)

    naive = wedge_mass(canon, "a")
    oriented = wedge_mass(_orient_by_degree(canon), "u")
    assert naive >= n * (n - 1) // 2   # the hub alone: C(50,2) wedges
    assert oriented <= n               # leaves have out-degree ~1
    r = triangle_count(df).first()
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (n + 1, n + 1, 1)


def test_build_vocab_order_and_cuts(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        build_vocab,
    )
    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a  b"), (3, "   ")],
        "doc_id long, text string",
    )
    rows = build_vocab(df, min_count=2, max_size=10).collect()
    got = [(r["term"], r["n_occurrences"], r["vocab_id"]) for r in
           sorted(rows, key=lambda r: r["vocab_id"])]
    # b: 4, a: 3; c (count 1) cut by min_count; blank doc contributes nothing
    assert got == [("b", 4, 0), ("a", 3, 1)]
    capped = build_vocab(df, min_count=1, max_size=1).collect()
    assert [(r["term"], r["vocab_id"]) for r in capped] == [("b", 0)]


def test_chunk_documents_tiles_exactly(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        chunk_documents,
    )
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    rows = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 3 blank -> absent; doc 2 short -> one clipped chunk
    assert set(by_doc) == {1, 2}
    assert [(r["start_tok"], r["n_chunk_tokens"], r["chunk_text"])
            for r in by_doc[2]] == [(0, 2, "a b")]
    # doc 1: step 3, n=10 -> ceil((10-4)/3)+1 = 3 chunks at 0,3,6 cover all
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [(r["start_tok"], r["n_chunk_tokens"]) for r in d1] == [
        (0, 4), (3, 4), (6, 4)]
    assert d1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert d1[-1]["chunk_text"] == "w6 w7 w8 w9"
    # coverage: every token index in exactly the expected windows
    covered = set()
    for r in d1:
        covered |= set(range(r["start_tok"], r["start_tok"] + r["n_chunk_tokens"]))
    assert covered == set(range(10))
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_bigram_novelty_bounds_and_values(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        bigram_novelty,
    )
    df = spark.createDataFrame(
        [(1, "x y z"), (2, "x y q"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_novelty(df).collect()}
    # doc 3 has < 2 tokens -> no row
    assert set(out) == {1, 2}
    # "x y" shared (df=2); "y z"/"y q" unique
    assert out[1]["n_bigrams"] == 2 and out[1]["n_novel"] == 1
    assert out[2]["n_bigrams"] == 2 and out[2]["n_novel"] == 1
    assert out[1]["novelty_ratio"] == 0.5


def test_filter_funnel_cumulative_counts(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        filter_funnel,
    )
    df = spark.createDataFrame(
        [(1, "good text here", "en"), (2, "x", "en"),
         (3, "good text here", "de"), (4, None, "en")],
        "doc_id long, text string, lang string",
    )
    r = filter_funnel(df, [
        ("long_enough", F.length("text") > 3),
        ("english", F.col("lang") == "en"),
    ]).first()
    # NULL text fails the first stage (SQL CASE semantics)
    assert (r["n_total"], r["n_long_enough"], r["n_english"]) == (4, 2, 1)


def test_ngram_jaccard_pairs_vs_bruteforce(spark, docs):
    """Cross-corpus screening equals the brute-force cross Jaccard, and a
    document present in BOTH sides self-matches at 1.0."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        ngram_jaccard_pairs_vs,
    )

    new = docs.filter(F.col("doc_id").isin(1, 3))        # 1 has dup 4 in corpus
    corpus = docs.filter(F.col("doc_id").isin(2, 4, 5, 6))
    got = {(r["new_id"], r["corpus_id"]): r["jaccard"]
           for r in ngram_jaccard_pairs_vs(new, corpus, threshold=0.3).collect()}
    # brute force via python shingles
    def shingles(t, k=3):
        toks = t.split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    want = {}
    for a in (1, 3):
        for b in (2, 4, 5, 6):
            sa, sb = shingles(rows[a]), shingles(rows[b])
            if sa and sb:
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.3:
                    want[(a, b)] = j
    assert set(got) == set(want)
    for p, j in want.items():
        assert abs(got[p] - j) < 1e-12
    assert got[(1, 4)] == 1.0  # exact dup across sides


def test_ann_null_embeddings_dropped_not_crashed(spark):
    """NULL embeddings must be DROPPED by the cogrouped scorers (the old
    per-pair cosine scored them NULL, which never survives a DESC top-k) —
    not crash np.stack."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        ivf_topk,
    )
    rows = [(i, [float(i % 3), 1.0, 0.5, 0.2]) for i in range(20)]
    rows.append((99, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(emb, qs, k=3).collect()
    assert len(got) == 6 and all(r["vec_id"] != 99 for r in got)
    lsh = lsh_topk(emb, qs, k=3, n_planes=4, dim=4).collect()
    assert all(r["vec_id"] != 99 for r in lsh)
    ivf = ivf_topk(emb, qs, k=3, n_lists=4, n_probe=2).collect()
    assert all(r["vec_id"] != 99 for r in ivf)


def test_ivf_zero_vector_joins_real_list(spark):
    """A zero-norm vector (NaN cosine against every centroid) must be
    assigned to a REAL inverted list, not a fabricated id."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        ivf_topk,
    )
    rows = [(i + 10, [1.0 + i, 0.5, 0.1, 0.2]) for i in range(20)]
    rows.append((999, [0.0, 0.0, 0.0, 0.0]))  # zero vector; no centroid id 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter("vec_id = 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # must not crash; the zero vector's NaN cosine is DROPPED from rankings
    # (the same treatment as a NULL embedding — SQL engines disagree on NaN
    # ordering, so a no-signal score never enters a top-k)
    out = ivf_topk(emb, qs, k=25, n_lists=2, n_probe=2).collect()
    assert len(out) > 0
    assert all(r["vec_id"] != 999 for r in out)


def test_ngram_jaccard_pairs_vs_colon_string_ids(spark):
    """String ids containing ':' must round-trip intact through the
    side-tagged composite key."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        ngram_jaccard_pairs_vs,
    )
    text = "the quick brown fox jumps over the lazy dog"
    new = spark.createDataFrame([("crawl:2024:a", text)],
                                "doc_id string, text string")
    corpus = spark.createDataFrame([("web:2023:b", text)],
                                   "doc_id string, text string")
    got = ngram_jaccard_pairs_vs(new, corpus, threshold=0.5).collect()
    assert [(r["new_id"], r["corpus_id"], r["jaccard"]) for r in got] == [
        ("crawl:2024:a", "web:2023:b", 1.0)
    ]


def test_ivf_variable_length_string_ids_full_probe_exact(spark):
    """Inverted-list assignment must carry string centroid ids INTACT.

    Regression: the winner used to be tracked in a np.full value array whose
    '<U n' width came from the smallest centroid id — longer ids truncated
    on update, assigned vectors to nonexistent lists, and the probe join
    silently dropped them.  With ids of wildly different lengths and
    n_probe == n_lists (probe everything), IVF must equal brute force.
    """
    import hashlib
    import math as m

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions import (
        ivf_topk,
    )

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 0x7FFFFFFF - 1.0

    rows = []
    for i in range(60):
        # id lengths 1..~40 chars — any fixed-width dtype truncates some
        vid = ("d" * (1 + (i * 7) % 40)) + f"-{i}"
        v = [h(f"v:{i}:{d}") for d in range(16)]
        n = m.sqrt(sum(x * x for x in v))
        rows.append((vid, [float(x / n) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    qs = spark.createDataFrame(rows[:4], "query_id string, embedding array<float>")

    exact = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in cosine_topk(emb, qs, k=5).collect()
    )
    ivf = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(emb, qs, k=5, n_lists=4, n_probe=4).collect()
    )
    assert ivf == exact


def test_grouped_topk_drops_nan_cosines(spark):
    """A zero-norm CORPUS vector scores NaN against every query; engines
    disagree on NaN ordering (np.lexsort ranks it last, SQL ORDER BY DESC
    first), so the scorer drops NaN rows outright — the zero vector must
    never appear in any top-k, even when k exceeds the corpus size."""
    rows = [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = spark.createDataFrame([(10, [1.0, 0.0])],
                               "query_id long, embedding array<float>")
    out = cosine_topk(emb, qs, k=10).collect()
    assert sorted(r["vec_id"] for r in out) == [1, 2]
    assert all(not math.isnan(r["cosine_sim"]) for r in out)


def test_ngram_index_probe_equals_rebuild(spark):
    """Probing the persisted bucketed index must return EXACTLY the pairs
    the self-contained rebuild form returns (the prefix theorem holds for
    the corpus-df order just as for the combined-df order, and the exact
    verify equalizes the rest), and the probe plan must scan the index
    tables instead of re-tokenizing corpus text."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        build_ngram_index,
        ngram_jaccard_pairs_vs,
        probe_ngram_index,
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter("doc_id % 10 = 0")
    corpus = docs.filter("doc_id % 10 != 0")
    build_ngram_index(corpus, "t_ndidx", k=3, threshold=0.6)

    probe = probe_ngram_index(new, "t_ndidx", k=3, threshold=0.6)
    got = sorted((r["new_id"], r["corpus_id"], r["jaccard"])
                 for r in probe.collect())
    want = sorted((r["new_id"], r["corpus_id"], r["jaccard"])
                  for r in ngram_jaccard_pairs_vs(new, corpus,
                                                  threshold=0.6).collect())
    assert got == want and len(want) > 0

    # the corpus side is index-table scans only — no corpus re-tokenization
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "t_ndidx_prefix_postings" in plan
    assert "t_ndidx_doc_shingles" in plan
    assert "t_ndidx_shingle_df" in plan

    # probing at a HIGHER threshold stays exact (shorter prefix = subset of
    # the indexed one); undercutting the build threshold is rejected
    hi = sorted((r["new_id"], r["corpus_id"], r["jaccard"])
                for r in probe_ngram_index(new, "t_ndidx", threshold=0.8,
                                           built_threshold=0.6).collect())
    want_hi = sorted((r["new_id"], r["corpus_id"], r["jaccard"])
                     for r in ngram_jaccard_pairs_vs(new, corpus,
                                                     threshold=0.8).collect())
    assert hi == want_hi
    with pytest.raises(ValueError):
        probe_ngram_index(new, "t_ndidx", threshold=0.5, built_threshold=0.6)


def test_bpe_encode_known_text(spark):
    """The incremental leftmost-best merge must replay the hand-computed
    cascade: in ' theme', rank-0 't'+'h' fires before ' '+'t' ever can, so
    the chain is 'th' -> 'the' -> 'me' leaving [' ', 'the', 'me'] — the
    leading space stays unmerged (' t'+'he' needs a ' t' symbol that never
    forms)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        BPE_PIECE_SEP,
        bpe_encode,
    )
    df = spark.createDataFrame(
        [(1, "the theme"), (2, "it's"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bpe_encode(df).collect()}
    assert out[1]["bpe_tokens"].split(BPE_PIECE_SEP) == [
        "the", " ", "the", "me"
    ]
    assert out[1]["n_bpe_tokens"] == 4
    # contraction pre-tokenizer: it + 's ; 'i'+'t' merges, but no merge
    # rebuilds "'s" from its chars
    assert out[2]["bpe_tokens"].split(BPE_PIECE_SEP) == ["it", "'", "s"]
    # empty text yields no pre-tokens -> doc dropped (matches the oracle's
    # inner-join semantics)
    assert 3 not in out


def test_ivf_params_scaling_law_and_recall_two_sfs(spark):
    """ivf_params must reproduce the sf0.01 constants at N=500 and scale
    at sqrt(N); derived defaults must give useful recall@k against brute
    force at BOTH test scales."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions import (
        ivf_params,
        ivf_topk,
    )
    assert ivf_params(500) == (16, 4, 512)
    assert ivf_params(2000) == (32, 8, 1024)
    assert ivf_params(10**12) == (2**19, 2**17, 32 * 2**19)
    assert ivf_params(0) == (1, 1, 32)

    for sf in ("sf0.001", "sf0.1"):
        emb = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        # 10 queries: recall on 3 is too noisy to gate on (50 truth pairs
        # here vs 15)
        qs = emb.filter("vec_id < 10").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        truth = {(r["query_id"], r["vec_id"])
                 for r in cosine_topk(emb, qs, k=5).collect()}
        got = {(r["query_id"], r["vec_id"])
               for r in ivf_topk(emb, qs, k=5, refine_iters=2).collect()}
        recall = len(got & truth) / len(truth)
        assert recall >= 0.5, (sf, recall)


def test_persisted_pair_and_label_tables_equal_rebuild(spark):
    """The build-once pair/label tables the dedup query family shares
    (the ``neardup_pairs`` / ``neardup_labels`` artifacts of
    ``__spark_entry__.ARTIFACTS``) must be row-identical to the
    self-contained rebuild, and the second access must be a pure table
    scan (no shingle explode, no re-tokenization)."""
    import __spark_entry__ as entry
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.artifacts import (
        sf_suffix,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        ngram_jaccard_pairs,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        dedup_clusters,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    got_pairs = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in spark.table(entry._artifact(spark, sf, "neardup_pairs"))
        .collect()
    )
    want_pairs = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.6).collect()
    )
    assert got_pairs == want_pairs and len(want_pairs) > 0

    got_labels = sorted(
        (r["doc_id"], r["component"], r["is_canonical"])
        for r in spark.table(entry._artifact(spark, sf, "neardup_labels"))
        .collect()
    )
    want_labels = sorted(
        (r["doc_id"], r["component"], r["is_canonical"])
        for r in dedup_clusters(
            docs, ngram_jaccard_pairs(docs, k=3, threshold=0.6)
        ).collect()
    )
    assert got_labels == want_labels

    # second access is a catalog-table scan, not a recomputation
    name = entry._artifact(spark, sf, "neardup_pairs")
    plan = (spark.table(name)
            ._jdf.queryExecution().executedPlan().toString())
    assert name == f"neardup_pairs_{sf_suffix(sf)}" and name in plan
    assert "Generate explode" not in plan


def test_duplicated_ngram_stats(spark, docs):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        duplicated_ngram_stats,
    )

    out = {r["doc_id"]: r
           for r in duplicated_ngram_stats(docs, n=3).collect()}
    # doc 4 is an exact copy of doc 1: every gram owned earlier
    assert out[4]["dup_fraction"] == 1.0
    assert out[4]["n_grams"] == out[1]["n_grams"] == 7
    # doc 1 is first: nothing duplicated
    assert out[1]["n_dup_grams"] == 0
    # doc 2 differs in the last word: 6 of its 7 grams are doc 1's
    assert out[2]["n_dup_grams"] == 6 and out[2]["n_grams"] == 7
    # doc 5 is shorter than n -> absent
    assert 5 not in out


def test_bm25_topk_ranking(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.search import (
        bm25_topk,
    )

    rows = [
        (1, "spark shuffle join"),                  # 1 hit, short
        (2, "spark spark spark filter"),            # high tf
        (3, "completely unrelated text here"),      # no hit
        (4, "spark " * 50),                         # tf saturation vs len
        (5, "shuffle exchange"),                    # other term
    ]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    out = bm25_topk(df, ("spark", "shuffle"), k=10)
    got = out.collect()
    ids = [r["doc_id"] for r in got]
    assert 3 not in ids                      # non-matching doc excluded
    assert len(ids) == 4
    # doc 1 matches both terms -> highest score
    assert ids[0] == 1
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # k truncates
    assert bm25_topk(df, ("spark",), k=2).count() == 2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_topk(df, ())
    with _pytest.raises(ValueError):
        bm25_topk(df, ("a", "a"))


def test_semantic_dedup_subset_and_recall(spark):
    """SemDeDup pairs are a subset of the exact all-pairs near-dups (same
    threshold, bit-identical sims) and, on the clustered synthetic
    embeddings, cluster-blocking retains most true pairs."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        neardup_pairs,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in neardup_pairs(emb, threshold=0.45).collect()}
    sem = {(r["id_a"], r["id_b"]): r["cosine_sim"]
           for r in semantic_dedup_pairs(
               emb, threshold=0.45, n_lists=4, refine_iters=2,
               sample_size=512).collect()}
    assert set(sem) <= set(exact)
    for p, s in sem.items():
        assert s == exact[p]  # bit-identical fold cosine
    assert len(exact) > 0
    assert len(sem) / len(exact) >= 0.5  # cluster-blocking recall


def test_pagerank_fixed_matches_reference_simulation(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        pagerank_fixed,
    )

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank_fp"]
           for r in pagerank_fixed(df, iters=3).collect()}

    # pure-python twin of the integer recurrence
    nodes = {n for e in edges for n in e}
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: 1_000_000 for n in nodes}
    for _ in range(3):
        inc = {n: 0 for n in nodes}
        for s, d in edges:
            inc[d] += (85 * r[s]) // (100 * outdeg[s])
        r = {n: 150_000 + inc[n] for n in nodes}
    assert got == r
    # sink-free cycle members outrank the teleport-only source d
    assert got["d"] == 150_000
    assert min(got["a"], got["b"], got["c"]) > got["d"]
    # determinism across reruns
    assert got == {row["node"]: row["rank_fp"]
                   for row in pagerank_fixed(df, iters=3).collect()}


def test_bpe_train_learns_and_feeds_encode(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        bpe_encode,
        bpe_train,
    )

    # 'aa' dominates: 'banana'-free corpus where pair ('a','a') wins first
    rows = [(1, "aaab aaab aab"), (2, "aaab xy"), (3, "aab aab")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, n_merges=3, max_words=10)
    got = [(r["merge_rank"], r["lhs"], r["rhs"])
           for r in merges.orderBy("merge_rank").collect()]
    # pair counts over {aaab: 3x, aab: 3x, ' aaab', ' aab', ' xy', xy: 1}:
    # ('a','a') is the clear first merge
    assert got[0][1:] == ("a", "a")
    assert len(got) == 3
    assert [g[0] for g in got] == [1, 2, 3]
    # learned merges are cascade-ordered and consumable by the encoder
    enc = bpe_encode(
        df, merges=tuple((l, r) for _, l, r in got)
    ).orderBy("doc_id").collect()
    assert all(r["n_bpe_tokens"] > 0 for r in enc)
    # encoding with the learned table compresses vs raw characters
    raw_chars = sum(len(t.replace(" ", "")) for _, t in rows)
    assert sum(r["n_bpe_tokens"] for r in enc) < raw_chars
    # determinism
    again = [(r["merge_rank"], r["lhs"], r["rhs"])
             for r in bpe_train(df, n_merges=3, max_words=10)
             .orderBy("merge_rank").collect()]
    assert again == got


def test_cms_heavy_hitters_overcounts_only(spark):
    """CMS estimates are >= exact counts (never undercount), equal for the
    heavy tail when the sketch is wide enough, and the top-k ordering of
    truly-frequent items survives."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sketches import (
        cms_heavy_hitters,
    )

    rows = [("x",)] * 50 + [("y",)] * 30 + [("z",)] * 5 + [("w",)]
    df = spark.createDataFrame(rows, "tok string")
    got = {r["tok"]: r["cms_count"]
           for r in cms_heavy_hitters(df, "tok", depth=4, width=64,
                                      k=10).collect()}
    exact = {"x": 50, "y": 30, "z": 5, "w": 1}
    assert set(got) == set(exact)
    for t, c in got.items():
        assert c >= exact[t]          # CM never undercounts
    # 4 values in a 64-wide sketch: collisions are possible but the two
    # heavy items must stay on top in order
    top = sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))
    assert top[0][0] == "x" and top[1][0] == "y"


def test_bloom_contamination_never_misses(spark):
    """Bloom decontamination is a SUPERSET of the exact check (no false
    negatives, bounded false positives): every exactly-contaminated doc
    is flagged with at least its exact hit count."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.contamination import (
        bloom_contamination,
        ngram_contamination,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.filter(F.col("doc_id") % 41 != 0)
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    exact = {r["doc_id"]: r["n_hits"]
             for r in ngram_contamination(train, bench, n=4).collect()}
    bloom = {r["doc_id"]: r["n_flagged"]
             for r in bloom_contamination(train, bench, n=4,
                                          m_bits=1 << 15,
                                          k_hashes=3).collect()}
    assert exact, "fixture must produce contamination"
    assert set(exact) <= set(bloom)
    for d, h in exact.items():
        assert bloom[d] >= h
    # a tiny filter over-flags much more — FP rate is the m_bits dial
    tiny = {r["doc_id"] for r in
            bloom_contamination(train, bench, n=4, m_bits=64,
                                k_hashes=3).collect()}
    assert set(bloom) <= tiny


def test_bm25_index_probe_equals_direct(spark, tmp_path):
    """The persisted-index probe must replay the direct two-scan form
    bit-for-bit (same ids, same n_tokens, same score doubles)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.search import (
        bm25_topk,
        build_bm25_index,
        probe_bm25_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ("vector", "hash", "merge")
    direct = [(r["doc_id"], r["n_tokens"], r["score"])
              for r in bm25_topk(docs, terms, k=15).collect()]
    build_bm25_index(docs, "bm25_t_idx")
    probe = [(r["doc_id"], r["n_tokens"], r["score"])
             for r in probe_bm25_index(spark, "bm25_t_idx", terms,
                                       k=15).collect()]
    assert probe == direct
    assert len(direct) == 15


def test_bm25_probe_empty_stats_yields_empty_not_nulls(spark):
    """An empty/corrupt stats table must make the probe EMPTY, not score
    every candidate NULL: the <=1-row re-aggregation that proves the
    scalar broadcast to the plan guard yields one all-NULL row over zero
    input rows, and the isNotNull filter restores the pre-aggregation
    edge case (round-12 ADVICE)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.search import (
        _bm25_table_names,
        build_bm25_index,
        probe_bm25_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    names = build_bm25_index(docs, "bm25_t_nostats")
    empty = spark.createDataFrame([], spark.table(names["stats"]).schema)
    empty.write.mode("overwrite").saveAsTable(names["stats"])
    out = probe_bm25_index(spark, "bm25_t_nostats", ("vector",), k=5)
    assert out.count() == 0


def test_resize_nearest_downsamples_and_checksums(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.multimodal import (
        resize_nearest,
        synth_bitmap,
    )
    ids = spark.createDataFrame([(7,), (8,)], "media_id long")
    media = synth_bitmap(ids, width=8, height=8)
    out = {r["media_id"]: r for r in resize_nearest(media, 4, 4).collect()}
    # replay the NN map in python: resized (dy,dx) = source (2dy, 2dx)
    for mid in (7, 8):
        pix = [((mid * 31 + (2 * (k // 4)) * 7 + (2 * (k % 4)) * 13) % 256)
               for k in range(16)]
        assert list(out[mid]["pixels"]) == pix
        assert out[mid]["checksum"] == sum(v * (k + 1)
                                           for k, v in enumerate(pix))
    # upscale also works: 2x2 -> 3x3 repeats nearest sources
    small = synth_bitmap(ids, width=2, height=2)
    up = {r["media_id"]: r for r in resize_nearest(small, 3, 3).collect()}
    srcs = [(0, 0), (0, 1), (1, 0), (1, 1)]
    for mid in (7, 8):
        src = {(y, x): (mid * 31 + y * 7 + x * 13) % 256 for y, x in srcs}
        expect = [src[((dy * 2) // 3, (dx * 2) // 3)]
                  for dy in range(3) for dx in range(3)]
        assert list(up[mid]["pixels"]) == expect
    # NULL payload -> NULL outputs, row preserved
    import pyspark.sql.functions as F
    nulled = media.withColumn("pixels", F.lit(None).cast("binary"))
    nr = resize_nearest(nulled, 4, 4).collect()
    assert all(r["checksum"] is None and r["pixels"] is None for r in nr)


def test_ivf_index_tables_probe_equals_direct(spark):
    import pyspark.sql.functions as F
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        build_ivf_index_tables,
        ivf_topk,
        ivf_topk_from_index,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    direct = sorted(map(tuple, ivf_topk(
        emb, qs, k=5, n_lists=8, n_probe=3, refine_iters=1, sample_size=64
    ).collect()))
    try:
        build_ivf_index_tables(emb, "ivf_eq_test", n_lists=8,
                               refine_iters=1, sample_size=64)
        from_table = sorted(map(tuple, ivf_topk_from_index(
            spark, "ivf_eq_test", qs, k=5, n_probe=3
        ).collect()))
        assert from_table == direct and len(direct) > 0
    finally:
        for t in ("ivf_eq_test_centroids", "ivf_eq_test_lists"):
            drop_table_and_location(spark, t)


def test_minhash_index_probe_equals_joint_run(spark, docs):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        build_minhash_index,
        minhash_lsh_pairs,
        probe_minhash_index,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )
    import pyspark.sql.functions as F
    new = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 != 0)
    try:
        build_minhash_index(corpus, "mh_eq_test", k=3, num_hashes=12,
                            bands=4)
        probed = {(r["new_id"], r["corpus_id"]): r["jaccard"]
                  for r in probe_minhash_index(
                      new, "mh_eq_test", k=3, num_hashes=12, bands=4,
                      threshold=0.5).collect()}
        # joint run over the union, restricted to cross-side pairs
        joint = {}
        for r in minhash_lsh_pairs(docs, k=3, num_hashes=12, bands=4,
                                   threshold=0.5).collect():
            a, b = r["id_a"], r["id_b"]
            if (a % 2 == 0) != (b % 2 == 0):
                n, c = (a, b) if a % 2 == 0 else (b, a)
                joint[(n, c)] = r["jaccard"]
        assert probed == joint and len(probed) > 0
    finally:
        for t in ("mh_eq_test_bands", "mh_eq_test_shingles"):
            drop_table_and_location(spark, t)


def test_cdc_chunks_tile_and_edit_locality(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        cdc_chunks,
    )
    base_text = " ".join(f"tok{i}" for i in range(200))
    edited = "INSERTED " + base_text  # one token prepended
    df = spark.createDataFrame(
        [(1, base_text), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(df, k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d in (1, 2):
        rows = sorted(by_doc[d], key=lambda r: r["chunk_idx"])
        # chunks tile the document exactly
        assert sum(r["n_tokens"] for r in rows) == (200 if d == 1 else 201)
        assert " ".join(r["chunk_text"] for r in rows) == (
            base_text if d == 1 else edited
        )
        assert [r["chunk_idx"] for r in rows] == list(range(1, len(rows) + 1))
    # EDIT LOCALITY: boundaries are content-local, so beyond the edited
    # prefix the two docs share most chunk digests (fixed-size chunking
    # would share none after a 1-token shift)
    d1 = {r["chunk_md5"] for r in by_doc[1]}
    d2 = {r["chunk_md5"] for r in by_doc[2]}
    shared = len(d1 & d2)
    assert shared >= max(1, len(d1) - 2)


def test_minhash_max_bucket_caps_hot_band(spark, docs):
    """The band self-join must be bounded: a synthetic hot band (many
    DISTINCT near-identical boilerplate docs — verbatim copies collapse
    before banding and never stress the cap) produces O(B^2) candidates
    uncapped; with max_bucket its over-sized buckets are excluded from
    candidate generation, the audit reports them, and pairs outside the
    hot cluster are untouched."""
    import pyspark.sql.functions as F

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        minhash_hot_bands,
        minhash_lsh_pairs,
    )

    boiler = " ".join(f"boiler tok{i} filler" for i in range(20))
    hot = spark.createDataFrame(
        [(1000 + i, f"{boiler} uniq{i}") for i in range(40)],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(hot)

    # an inert cap (> any bucket) equals the uncapped result exactly
    uncapped = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
        both, k=3, threshold=0.5, max_bucket=None).collect()}
    inert = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
        both, k=3, threshold=0.5, max_bucket=1000).collect()}
    assert inert == uncapped
    hot_pairs = {(a, b) for a, b in uncapped if a >= 1000 and b >= 1000}
    # the one-token suffix leaves J ~ 0.85 >> 0.5 and most band slices
    # intact: nearly the full quadratic cluster collides (md5 is fixed,
    # so the exact count is deterministic — bound it, don't pin it)
    assert len(hot_pairs) > 40 * 39 // 4

    # a cap below the hot-bucket size drops SOME hot-cluster candidates
    # (pairs whose every shared bucket is over-sized) and ONLY those
    capped = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
        both, k=3, threshold=0.5, max_bucket=10).collect()}
    dropped = uncapped - capped
    assert capped <= uncapped and len(dropped) > 0
    assert all(a >= 1000 and b >= 1000 for a, b in dropped)

    # ...and the audit surfaces the over-sized buckets
    audit = minhash_hot_bands(both, k=3, max_bucket=10).collect()
    assert len(audit) > 0 and all(r["bucket_n"] > 10 for r in audit)
    assert minhash_hot_bands(both, k=3, max_bucket=1000).count() == 0


def test_neardup_duplicate_expansion(spark):
    """Verbatim copies collapse to one rep before the PPJoin / LSH pair
    engines and expand back: member pairs of a duplicate group appear at
    Jaccard exactly 1.0, cross pairs fan out the full bipartite product,
    and copies of a too-short (shingle-less) doc never pair — identical
    to the uncollapsed engines."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    ta = "the quick brown fox jumps over the lazy dog again and again"
    tb = "the quick brown fox jumps over the lazy dog again and once"
    rows = [(1, ta), (2, ta), (3, ta), (4, tb), (5, tb),
            (6, "completely different text about spark shuffles and joins"),
            (7, "so so"), (8, "so so")]  # < k=3 tokens: no shingles
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dup = {(1, 2), (1, 3), (2, 3), (4, 5)}
    cross = {(1, 4), (1, 5), (2, 4), (2, 5), (3, 4), (3, 5)}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()}
    assert set(got) == dup | cross
    assert all(got[p] == 1.0 for p in dup)
    assert len({got[p] for p in cross}) == 1

    # LSH: duplicate groups always self-pair (identical band keys); the
    # cross pairs expand all-or-nothing with their reps' band collision
    # (exactly the uncollapsed behavior — copies carry identical keys)
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(df, k=3, threshold=0.5).collect()}
    assert dup <= set(lsh) and all(lsh[p] == 1.0 for p in dup)
    n_cross = len(cross & set(lsh))
    assert n_cross in (0, len(cross))
    assert set(lsh) <= dup | cross

    # SimHash: identical signatures (copies or collisions) expand to
    # Hamming-0 member pairs; docs 7/8 ("so so") are copies too and DO
    # pair here (token-level signatures need no k-token minimum)
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        simhash_pairs,
    )
    sh = {(r["id_a"], r["id_b"]): r["hamming"]
          for r in simhash_pairs(df, max_hamming=3).collect()}
    assert dup | {(7, 8)} <= set(sh)
    assert all(sh[p] == 0 for p in dup) and sh[(7, 8)] == 0


def test_index_probe_rejects_mismatched_hyperparams(spark, docs):
    """A probe under different hyperparameters than the build silently
    returns plausible-but-wrong (mostly empty) candidates; the persisted
    _table_meta.json sidecar must turn that into a loud error."""
    import pyspark.sql.functions as F
    import pytest

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        build_minhash_index,
        build_ngram_index,
        probe_minhash_index,
        probe_ngram_index,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )

    new = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 != 0)
    try:
        build_minhash_index(corpus, "mh_meta_test", k=3, num_hashes=12,
                            bands=4)
        for bad in (dict(k=4), dict(num_hashes=8), dict(bands=6)):
            kw = dict(k=3, num_hashes=12, bands=4, threshold=0.5) | bad
            with pytest.raises(ValueError, match="was built with"):
                probe_minhash_index(new, "mh_meta_test", **kw).collect()
        # matching params still probe fine
        probe_minhash_index(new, "mh_meta_test", k=3, num_hashes=12,
                            bands=4, threshold=0.5).count()

        build_ngram_index(corpus, "ng_meta_test", k=3, threshold=0.6)
        with pytest.raises(ValueError, match="was built with"):
            probe_ngram_index(new, "ng_meta_test", k=4,
                              threshold=0.6).collect()
        with pytest.raises(ValueError, match="was built with"):
            probe_ngram_index(new, "ng_meta_test", k=3, threshold=0.6,
                              max_df=100).collect()
        # the recorded threshold is the floor even when the caller does
        # not pass built_threshold
        with pytest.raises(ValueError, match="lose recall"):
            probe_ngram_index(new, "ng_meta_test", k=3,
                              threshold=0.5).collect()
        probe_ngram_index(new, "ng_meta_test", k=3, threshold=0.7).count()
    finally:
        for t in ("mh_meta_test_bands", "mh_meta_test_shingles",
                  "ng_meta_test_prefix_postings", "ng_meta_test_shingle_df",
                  "ng_meta_test_doc_shingles"):
            drop_table_and_location(spark, t)


def test_duplicated_ngram_stats_dfcut(spark, docs):
    """When no gram exceeds the cut the guarded result is IDENTICAL; a
    biting cut only removes stop-gram mass from both counts, never adds."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        duplicated_ngram_stats,
    )

    base = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
            for r in duplicated_ngram_stats(docs, n=3).collect()}
    assert len(base) > 0
    # every gram here appears in at most len(docs) documents
    safe = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
            for r in duplicated_ngram_stats(docs, n=3,
                                            max_df=10_000).collect()}
    assert safe == base
    cut = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
           for r in duplicated_ngram_stats(docs, n=3, max_df=1).collect()}
    # df=1 keeps only singleton grams: nothing can be duplicated
    assert all(nd == 0 for (_, nd) in cut.values())
    assert all(cut[d][0] <= base[d][0] for d in cut)


def test_winnowing_guarantee_and_density(spark):
    """The SIGMOD'03 local guarantee: two documents sharing a verbatim run
    of >= w+k-1 tokens share at least one selected fingerprint hash; and
    winnowing stores far fewer than all gram hashes (~2/(w+1) density)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        winnowing_fingerprints,
    )

    k, w = 3, 4
    shared = " ".join(f"shared{i}" for i in range(k + w - 1))  # exactly w+k-1
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + shared + " delta epsilon zeta"),
            (2, "one two three four " + shared + " five six"),
            (3, "totally unrelated words with no overlap at all here"),
            (4, "short doc"),  # < w+k-1 tokens -> no rows
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(df, k=k, w=w).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc.get(1) and by_doc.get(2) and by_doc.get(3)
    assert 4 not in by_doc
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])

    # density: selections are a strict subset of the gram hashes
    n_tokens = len(df.collect()[0]["text"].split())
    n_grams = n_tokens - k + 1
    assert len({(r["fp_pos"]) for r in fp if r["doc_id"] == 1}) < n_grams


def test_quantization_error_bounds(spark):
    """Reconstruction error of the int8 quantizer is bounded by scale/2
    per element (the floor(x+0.5) rounding guarantee) and the
    reconstructed vectors stay near-parallel to the originals."""
    import __spark_entry__ as entry

    rows = entry.q_quantization_error(
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12
        assert r["cosine_recon"] > 0.999


def test_containment_catches_inclusion_jaccard_misses(spark):
    """A short document fully embedded in a long one has containment 1.0
    but low Jaccard — the asymmetric signal the operator exists for.
    Verbatim copies expand through the collapse with containment 1.0."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = ("completely different opening words here then " + quote
                + " and a long unrelated tail keeps going on and on and on")
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "nothing in common with those"),
         (4, quote)],  # verbatim copy of 1
        "doc_id long, text string",
    )
    cont = {(r["id_a"], r["id_b"]): r["containment"]
            for r in ngram_containment_pairs(df, k=3,
                                             threshold=0.9).collect()}
    assert cont[(1, 2)] == 1.0       # quote fully contained
    assert cont[(1, 4)] == 1.0       # copy self-marker expansion
    assert cont[(2, 4)] == 1.0       # copy inherits the rep's pairs
    assert not any(3 in p for p in cont)
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, k=3, threshold=0.9).collect()}
    assert (1, 2) not in jac         # Jaccard under-scores the inclusion


def test_winnow_match_finds_shared_run(spark, tmp_warehouse):
    """Two documents sharing a verbatim run long enough for >= 2 window
    selections match through the persisted fingerprint index; unrelated
    documents do not."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        build_winnowing_index,
        winnow_match_from_index,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )

    shared = " ".join(f"shared{i}" for i in range(14))  # long verbatim run
    df = spark.createDataFrame(
        [(1, "alpha beta " + shared + " gamma delta"),
         (2, "one two three " + shared + " four"),
         (3, "totally unrelated words with no overlap at all whatsoever")],
        "doc_id long, text string",
    )
    try:
        build_winnowing_index(df, "wm_eq_test", k=3, w=4)
        pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
                 for r in winnow_match_from_index(
                     spark, "wm_eq_test", min_shared=2).collect()}
        assert pairs.get((1, 2), 0) >= 2
        assert not any(3 in p for p in pairs)
    finally:
        for t in ("wm_eq_test_fps", "wm_eq_test_members"):
            drop_table_and_location(spark, t)


def test_persisted_table_guards_raise(spark):
    """Pair engines refuse (a) persisted tables carrying ids absent from
    the corpus (stale table -> phantom pairs) and (b) pre-tagged tables
    with __rep but no __mult (clear contract error, not a deep-plan
    AnalysisException)."""
    import pytest

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
        simhash_table,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        shingled_arrays,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.execution import (
        rep_tags,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different sentence with other words here")],
        "doc_id long, text string",
    )
    ghost_docs = docs.unionByName(spark.createDataFrame(
        [(99, "a ghost document that later vanished from the corpus")],
        "doc_id long, text string",
    ))
    stale_sh = shingled_arrays(ghost_docs, "text", "doc_id", 3)
    with pytest.raises(ValueError, match="ids absent"):
        ngram_jaccard_pairs(docs, k=3, shingled=stale_sh).collect()
    with pytest.raises(ValueError, match="ids absent"):
        minhash_lsh_pairs(docs, k=3, shingled=stale_sh).collect()
    with pytest.raises(ValueError, match="ids absent"):
        simhash_pairs(docs, sims=simhash_table(ghost_docs)).collect()

    # the reverse direction (round-6 advice): the corpus GREW past the
    # persisted table — the engines would silently emit no pairs for the
    # new documents, so the guard must refuse that too
    grown_docs = docs.unionByName(spark.createDataFrame(
        [(7, "a brand new document added after the table was built")],
        "doc_id long, text string",
    ))
    old_sh = shingled_arrays(docs, "text", "doc_id", 3)
    with pytest.raises(ValueError, match="missing corpus ids"):
        ngram_jaccard_pairs(grown_docs, k=3, shingled=old_sh).collect()
    with pytest.raises(ValueError, match="missing corpus ids"):
        simhash_pairs(grown_docs, sims=simhash_table(docs)).collect()

    half_tagged = rep_tags(
        shingled_arrays(docs, "text", "doc_id", 3),
        "shingles", "doc_id", with_mult=False,
    )
    with pytest.raises(ValueError, match="__mult"):
        ngram_jaccard_pairs(docs, k=3, shingled=half_tagged,
                            tables_checked=True).collect()
    with pytest.raises(ValueError, match="__mult"):
        minhash_lsh_pairs(docs, k=3, shingled=half_tagged,
                          tables_checked=True).collect()


def test_ghost_guard_excuses_documented_drops(spark):
    """Docs the artifact's own build filter drops (<k tokens for shingle
    tables, NULL text for simhash) are NOT flagged as missing — the
    bidirectional guard only fires on absences the build cannot explain."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
        simhash_table,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        shingled_arrays,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different sentence with other words here"),
         (3, "too short"),            # 2 tokens < k=3: no shingle row
         (4, None)],                  # NULL text: no simhash row
        "doc_id long, text string",
    )
    sh = shingled_arrays(docs, "text", "doc_id", 3)
    assert sh.filter("doc_id in (3, 4)").count() == 0
    # guard passes: absences are exactly the documented drops
    ngram_jaccard_pairs(docs, k=3, shingled=sh).collect()
    sims = simhash_table(docs)
    assert sims.filter("doc_id = 4").count() == 0
    simhash_pairs(docs, sims=sims).collect()


def test_winnowing_index_probe_equals_rebuild(spark):
    """The persisted winnowing fingerprint index serves byte-identical
    rows to the from-scratch operator at the same (k, w), including
    multiplicity expansion (doc 5 is a verbatim copy of doc 1)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        build_winnowing_index,
        winnowing_fingerprints,
        winnowing_from_index,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, base + " extra words beyond the shared run"),
            (2, "one two three " + base),
            (3, "totally unrelated words with no overlap at all here now"),
            (5, base + " extra words beyond the shared run"),  # copy of 1
        ],
        "doc_id long, text string",
    )
    try:
        build_winnowing_index(df, "wfp_eq_test", k=3, w=4)
        direct = sorted(map(tuple,
                            winnowing_fingerprints(df, k=3, w=4).collect()))
        served = sorted(map(tuple,
                            winnowing_from_index(spark,
                                                 "wfp_eq_test").collect()))
        assert served == direct and len(direct) > 0
        # the verbatim copy expands to the same fingerprint set as its rep
        by_doc = {}
        for d, _, h in direct:
            by_doc.setdefault(d, set()).add(h)
        assert by_doc[5] == by_doc[1]
    finally:
        for t in ("wfp_eq_test_fps", "wfp_eq_test_members"):
            drop_table_and_location(spark, t)


def test_pretagged_shingles_equal_untagged(spark):
    """A shingled table carrying persisted __rep/__mult columns (the
    build-once collapse tagging) must yield byte-identical pairs to the
    engines deriving the tagging themselves."""
    from pyspark.sql import Window, functions as F

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        shingled_arrays,
    )

    ta = "the quick brown fox jumps over the lazy dog again and again"
    tb = "the quick brown fox jumps over the lazy dog again and once"
    rows = [(1, ta), (2, ta), (3, tb), (4, "unrelated words entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tagged = shingled_arrays(df, "text", "doc_id", 3).select(
        "doc_id", "shingles",
        F.min("doc_id").over(Window.partitionBy("shingles")).alias("__rep"),
        F.count(F.lit(1)).over(Window.partitionBy("shingles"))
        .alias("__mult"),
    )
    for engine in (ngram_jaccard_pairs, minhash_lsh_pairs):
        plain = {(r["id_a"], r["id_b"], r["jaccard"])
                 for r in engine(df, k=3, threshold=0.5).collect()}
        fast = {(r["id_a"], r["id_b"], r["jaccard"])
                for r in engine(df, k=3, threshold=0.5,
                                shingled=tagged).collect()}
        assert plain == fast and plain, engine.__name__


def test_duplicated_ngram_stats_copy_expansion(spark):
    """Verbatim copies get exactly (n_grams, n_grams, 1.0) — every gram
    of a copy is owned by its earlier rep — while the rep's own counts
    come from the collapsed gram pass; df for max_df counts DOCUMENTS
    (copies included) even though only reps shed gram mass."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        duplicated_ngram_stats,
    )

    ta = "a b c d e f"        # grams(5): "a b c d e", "b c d e f"
    tb = "a b c d e x"        # gram "a b c d e" owned by doc 1
    rows = [(1, ta), (2, ta), (3, ta), (4, tb)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_fraction"])
           for r in duplicated_ngram_stats(df, n=5).collect()}
    assert got == {1: (2, 0, 0.0), 2: (2, 2, 1.0), 3: (2, 2, 1.0),
                   4: (2, 1, 0.5)}
    # df of "a b c d e" is 4 DOCUMENTS (3 copies + doc 4): a cut at 3
    # drops it everywhere; "b c d e f" (df 3) and "b c d e x" (df 1) stay
    cut = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
           for r in duplicated_ngram_stats(df, n=5, max_df=3).collect()}
    assert cut == {1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 0)}


def test_semantic_dedup_duplicate_expansion(spark):
    """Exact-duplicate embeddings collapse to one scored rep per list and
    expand back: every member pair of a duplicate group appears with the
    group's self-similarity, and cross pairs fan out the full bipartite
    product — byte-identical to scoring the uncollapsed corpus."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        semantic_dedup_pairs,
    )

    v1 = [1.0, 0.0, 0.2, 0.1]
    v2 = [0.9, 0.1, 0.2, 0.1]   # close to v1
    v3 = [0.0, 1.0, 0.0, 0.0]   # far from both
    rows = [(1, v1), (2, v1), (3, v1), (4, v2), (5, v2), (6, v3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cosine_sim"]
           for r in semantic_dedup_pairs(df, threshold=0.9, n_lists=1,
                                         sample_size=6).collect()}
    dup_groups = [(1, 2), (1, 3), (2, 3), (4, 5)]
    cross = [(1, 4), (1, 5), (2, 4), (2, 5), (3, 4), (3, 5)]
    assert set(got) == set(dup_groups) | set(cross)
    # every member pair of a duplicate group carries ONE self-similarity
    assert len({got[p] for p in [(1, 2), (1, 3), (2, 3)]}) == 1
    # every cross pair of the two groups carries ONE rep-pair similarity
    assert len({got[p] for p in cross}) == 1
    assert all(s >= 0.9 for s in got.values())
    # v3 is far from everything: no pair involves id 6
    assert not any(6 in p for p in got)


def test_gram_profile_serves_every_df_cut(spark, docs):
    """The persisted df-banded gram profile is an exact sufficient
    statistic for duplicated_ngram_stats at EVERY max_df (the per-(doc,
    df) aggregation commutes with the cut): served output == from-scratch
    engine, including the no-cut form, duplicate expansion (doc 4 is a
    verbatim copy of doc 1), and absent-doc semantics."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        build_gram_profile,
        duplicated_ngram_stats,
        stats_from_gram_profile,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )

    try:
        build_gram_profile(docs, "gp_eq_test", n=3)
        for cut in (None, 1, 2, 100):
            direct = sorted(map(tuple, duplicated_ngram_stats(
                docs, n=3, max_df=cut).collect()))
            served = sorted(map(tuple, stats_from_gram_profile(
                spark, "gp_eq_test", max_df=cut).collect()))
            assert served == direct and len(direct) > 0
        # the copy expands to the Lee et al. verbatim-copy verdict
        full = {r[0]: r for r in direct}
        assert full[4][3] == 1.0
    finally:
        for t in ("gp_eq_test_df_profile", "gp_eq_test_members"):
            drop_table_and_location(spark, t)


# --- greedy k-center coreset selection --------------------------------------


def _kcenter_reference(vecs: dict, k: int):
    """Driver-side greedy k-center with the EXACT arithmetic the engine
    uses: float->double widening, sequential left-fold squared-L2,
    (dist DESC, id ASC) argmax, chosen ids excluded."""
    def sqdist(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d += (x - y) * (x - y)
        return d

    ids = sorted(vecs)
    out = [(1, ids[0], None)]
    chosen = [ids[0]]
    while len(out) < k and len(chosen) < len(ids):
        best = None
        for i in ids:
            if i in chosen:
                continue
            dmin = min(sqdist(vecs[i], vecs[c]) for c in chosen)
            cand = (-dmin, i)
            if best is None or cand < best:
                best = cand
        out.append((len(out) + 1, best[1], -best[0]))
        chosen.append(best[1])
    return out


def test_kcenter_select_matches_bruteforce(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        kcenter_select,
    )

    import numpy as np

    rng = np.random.default_rng(7)
    raw = rng.normal(size=(40, 6)).astype(np.float32)
    rows = [(int(i), [float(x) for x in raw[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [(r["sel_rank"], r["vec_id"], r["min_dist_sq"])
           for r in kcenter_select(df, k=6).orderBy("sel_rank").collect()]
    # reference replays the float32 -> float64 widening the engine does
    vecs = {int(i): [float(np.float64(x)) for x in raw[i]] for i in range(40)}
    want = _kcenter_reference(vecs, 6)
    assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
    assert got[0][2] is None
    for g, w in zip(got[1:], want[1:]):
        assert g[2] == w[2]  # bit-equal double trajectory
    # coverage radius is non-increasing (farthest-point property)
    radii = [g[2] for g in got[1:]]
    assert radii == sorted(radii, reverse=True)


def test_kcenter_select_duplicates_and_small_n(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        kcenter_select,
    )

    rows = [
        (10, [1.0, 0.0]),
        (11, [1.0, 0.0]),   # exact duplicate of 10
        (12, [0.0, 1.0]),
        (13, None),         # NULL vector: dropped, never selected
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kcenter_select(df, k=10).orderBy("sel_rank").collect()
    # k > n: returns every non-null point exactly once, ranks contiguous
    assert [r["sel_rank"] for r in got] == [1, 2, 3]
    assert [r["vec_id"] for r in got] == [10, 12, 11]  # dup picked LAST
    assert got[0]["min_dist_sq"] is None
    assert got[1]["min_dist_sq"] == 2.0
    assert got[2]["min_dist_sq"] == 0.0  # duplicate: zero radius, not re-10
    # empty corpus: empty result, correct schema
    empty = kcenter_select(df.filter("vec_id < 0"), k=3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "sel_rank", "vec_id", "min_dist_sq"]


def test_kcenter_select_null_id_dropped(spark):
    # a NULL id would NULL-poison ~isin(chosen) and seed NULLS-FIRST under
    # Spark asc while an ANSI oracle seeds it last — dropped up front
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        kcenter_select,
    )

    rows = [
        (None, [9.0, 9.0]),  # NULL id: dropped, never seeds or selects
        (5, [1.0, 0.0]),
        (6, [0.0, 1.0]),
        (7, [4.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kcenter_select(df, k=4).orderBy("sel_rank").collect()
    assert [r["vec_id"] for r in got] == [5, 7, 6]
    assert got[0]["min_dist_sq"] is None


def test_embedding_covariance_exact(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        embedding_covariance,
    )

    import numpy as np

    rng = np.random.default_rng(11)
    raw = rng.normal(size=(25, 5)).astype(np.float32)
    rows = [(int(i), [float(x) for x in raw[i]]) for i in range(25)]
    rows.append((99, None))  # NULL vector: dropped
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["dim_i"], r["dim_j"]): r
           for r in embedding_covariance(df).collect()}
    assert len(got) == 15  # upper triangle of 5x5
    # exact integer reference: same micro-unit floor quantization
    u = np.floor(raw.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    for i in range(5):
        for j in range(i, 5):
            r = got[(i, j)]
            si, sj = int(u[:, i].sum()), int(u[:, j].sum())
            sij = int((u[:, i] * u[:, j]).sum())
            assert (r["n_vecs"], r["s_i"], r["s_j"], r["s_ij"]) == (
                25, si, sj, sij)
            want_cov = (sij / 25.0 - (si / 25.0) * (sj / 25.0)) / 1e12
            assert r["cov"] == want_cov  # bit-equal double chain
    # diagonal variance is non-negative
    assert all(got[(i, i)]["cov"] >= 0.0 for i in range(5))


def test_kcenter_and_covariance_domain_guards(spark):
    import pytest as _pytest

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        embedding_covariance,
        kcenter_select,
    )

    rows = [
        (1, [1.0, 2.0]),
        (2, [1.0, None]),   # NULL element: dropped by BOTH ops
        (3, [4.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # k < 1 selects nothing; NULL-element vector never selected
    assert kcenter_select(df, k=0).count() == 0
    picked = [r["vec_id"]
              for r in kcenter_select(df, k=5).orderBy("sel_rank").collect()]
    assert picked == [1, 3]
    # covariance: the NULL-element vector is excluded from n and sums
    cov = {(r["dim_i"], r["dim_j"]): r
           for r in embedding_covariance(df).collect()}
    assert cov[(0, 0)]["n_vecs"] == 2
    assert cov[(0, 0)]["s_i"] == 5_000_000  # 1e6 + 4e6
    # a coordinate where even one product could overflow int64 raises
    big = spark.createDataFrame(
        [(1, [3000.0, 0.0]), (2, [2.0 ** 32, 0.0])],
        "vec_id long, embedding array<float>")
    with _pytest.raises(Exception, match="2\\^31|overflow"):
        embedding_covariance(big).collect()
    # non-finite elements raise instead of flooring to undefined int64
    naninf = spark.createDataFrame(
        [(1, [float("nan"), 1.0])], "vec_id long, embedding array<float>")
    with _pytest.raises(Exception, match="non-finite"):
        embedding_covariance(naninf).collect()


def _dsir_reference(rows, target_source, buckets=64):
    """Driver-side replay of the exact dsir_importance_weights pipeline:
    md5-bucketed unigrams, add-one-smoothed LLR quantized to micro-nats
    per bucket, integer per-doc sum."""
    import hashlib
    import math as m

    cells = []
    for doc_id, text, source in rows:
        if text is None or text.strip() == "":
            continue
        for t in text.strip().split():
            b = int(hashlib.md5(f"dsir:{t}".encode()).hexdigest()[:8],
                    16) % buckets
            cells.append((doc_id, source == target_source, b))
    cnt_all, cnt_t = {}, {}
    for _, is_t, b in cells:
        cnt_all[b] = cnt_all.get(b, 0) + 1
        cnt_t[b] = cnt_t.get(b, 0) + (1 if is_t else 0)
    tot_all, tot_t = sum(cnt_all.values()), sum(cnt_t.values())
    lr = {
        b: m.floor(m.log(((cnt_t[b] + 1.0) * (tot_all + float(buckets)))
                         / ((cnt_all[b] + 1.0) * (tot_t + float(buckets))))
                   * 1000000.0 + 0.5)
        for b in cnt_all
    }
    out = {}
    for doc_id, _, b in cells:
        n, s = out.get(doc_id, (0, 0))
        out[doc_id] = (n + 1, s + lr[b])
    return out


def test_dsir_importance_weights_exact_and_ranks_target(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sampling import (
        dsir_importance_weights,
    )

    rows = [
        (1, "alpha beta gamma alpha", "wiki"),
        (2, "alpha beta beta gamma", "wiki"),
        (3, "zeta eta theta iota kappa", "crawl"),
        (4, "zeta zeta eta theta", "crawl"),
        (5, "alpha beta gamma", "crawl"),     # target-looking crawl doc
        (6, "   ", "crawl"),                  # blank -> dropped
        (7, "", "wiki"),                      # empty -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in dsir_importance_weights(
        df, F.col("source") == "wiki").collect()}
    want = _dsir_reference(rows, "wiki")
    assert set(got) == set(want)  # blanks dropped
    for d, (n_toks, score) in want.items():
        assert got[d]["n_toks"] == n_toks
        assert got[d]["score_micro"] == score  # bit-exact integer contract
    # the target-looking crawl doc outscores the target-unlike crawl docs
    assert got[5]["score_micro"] > got[3]["score_micro"]
    assert got[5]["score_micro"] > got[4]["score_micro"]
    with pytest.raises(ValueError):
        dsir_importance_weights(df, F.col("source") == "wiki", buckets=0)


def _jl_reference(vecs, out_dim=8, in_dim=64, salt="jl"):
    import hashlib
    import math as m

    signs = [
        [1 if int(hashlib.md5(f"{salt}:{j}:{i}".encode())
                  .hexdigest()[0], 16) % 2 == 1 else -1
         for i in range(in_dim)]
        for j in range(out_dim)
    ]
    out = {}
    for vid, v in vecs:
        q = [m.floor(float(x) * 1000000.0 + 0.5) for x in v]
        for j in range(out_dim):
            out[(vid, j)] = sum(s * qi for s, qi in zip(signs[j], q))
    return out


def test_rademacher_project_exact_and_guards(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        rademacher_project,
    )
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [(i, [float(np.float32(x)) for x in rng.normal(size=8)])
            for i in range(20)]
    rows = vecs + [
        (100, [0.1] * 5),          # ragged -> dropped
        (101, None),               # NULL vector -> dropped
        (102, [0.1] * 7 + [None]),  # NULL element -> dropped
        (None, [0.2] * 8),         # NULL id -> dropped
        (103, [1.0e13] * 8),       # past the fold-safe bound
                                   # (2^62/(1e6*in_dim)): would wrap the
                                   # int64 fold in unchecked mode / raise
                                   # under ANSI -> dropped in BOTH modes
        (104, [float("nan")] + [0.1] * 7),  # NaN coordinate: the
                                   # magnitude comparison alone is not
                                   # NaN-reliable, the explicit isnan
                                   # guard must drop it in BOTH modes
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = rademacher_project(df, out_dim=4, in_dim=8).collect()
    got = {(r["vec_id"], r["j"]): r["proj_micro"] for r in out}
    want = _jl_reference(vecs, out_dim=4, in_dim=8)
    assert got == want  # bit-exact integer contract, guards drop 6 rows
    with pytest.raises(ValueError):
        rademacher_project(df, out_dim=0, in_dim=8)


def test_gopher_rules_each_rule_fires(spark):
    """Each Gopher rule triggers on its designed offender and the clean
    long document keeps; an empty document fails every rule NULL-free."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        gopher_rules,
    )

    good = " ".join(["the", "be", "to", "of", "and", "word", "text",
                     "data", "more", "info"] * 6)          # 60 words, clean
    short = "the be to of and word"                        # < min_words
    longwords = " ".join(["the", "be"] + ["x" * 40] * 58)  # mean len > 10
    symbols = " ".join(["the", "be"] + ["###"] * 58)       # symbol ratio
    numeric = " ".join(["the", "be"] + ["123"] * 58)       # alpha frac < .8
    bullets = "\n".join(["the be to of and"] +
                        ["- item %d" % i for i in range(60)])  # bullet lines
    norequired = " ".join(["alpha", "beta", "gamma"] * 20)  # no req words
    rows = [(1, good), (2, short), (3, longwords), (4, symbols),
            (5, numeric), (6, bullets), (7, norequired), (8, ""),
            (9, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}

    assert out[1]["keep"] is True
    assert out[2]["pass_word_count"] is False and out[2]["keep"] is False
    assert out[3]["pass_word_len"] is False
    assert out[4]["pass_symbol_ratio"] is False
    assert out[5]["pass_alpha_words"] is False
    assert out[6]["pass_line_shape"] is False   # > 90% bullet lines
    assert out[6]["pass_word_count"] is True    # 65 words otherwise fine
    assert out[7]["pass_required_words"] is False
    for d in (8, 9):  # empty/NULL text: every rule False, none NULL
        for c in ("pass_word_count", "pass_word_len", "pass_symbol_ratio",
                  "pass_alpha_words", "pass_line_shape",
                  "pass_required_words", "keep"):
            assert out[d][c] is False, (d, c)
    assert out[1]["required_hits"] == 5
    assert abs(out[1]["mean_word_len"] - (192.0 / 60.0)) < 1e-12


def test_kmv_set_ops_exact_below_k_and_estimates(spark):
    """With k above both cardinalities every output is EXACT set algebra;
    with tiny k the estimates stay finite and the union sketch holds k."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sketches import (
        kmv_set_ops,
    )
    import pytest

    a = spark.createDataFrame([(i,) for i in range(100)], "v long")
    b = spark.createDataFrame([(i,) for i in range(60, 160)], "v long")
    r = kmv_set_ops(a, b, "v", k=1024).collect()[0]
    assert r["est_distinct_a"] == 100.0 and r["est_distinct_b"] == 100.0
    assert r["est_union"] == 160.0
    assert abs(r["jaccard"] - 40.0 / 160.0) < 1e-12
    assert abs(r["est_intersection"] - 40.0) < 1e-12
    assert r["sketch_k"] == 160

    small = kmv_set_ops(a, b, "v", k=32).collect()[0]
    assert small["sketch_k"] == 32
    assert 100.0 <= small["est_union"] <= 260.0  # coarse but sane at k=32
    with pytest.raises(ValueError):
        kmv_set_ops(a, b, "v", k=1)


def test_remove_duplicated_spans_semantics(spark):
    """Lee et al. exact substring removal: the first corpus occurrence
    keeps its text, a verbatim copy rewrites to '', an embedded
    duplicated gram loses exactly its span, sub-n docs pass through,
    WITHIN-doc repeats are not removed, blank docs are stable."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        remove_duplicated_spans,
    )
    import pytest

    rows = [
        (1, "a b c d e f"),            # first occurrence: untouched
        (2, "a b c d e f"),            # verbatim copy -> ''
        (3, "x y a b c d z w"),        # embedded dup gram -> "x y z w"
        (4, "p q r"),                  # < n tokens: pass through
        (5, "a b c d"),                # exactly the dup gram -> ''
        (6, "m n o p m n o p"),        # within-doc repeat: NOT removed
        (7, ""),                       # blank: stable zeros
        (None, "a b c d"),             # NULL id: dropped
        (8, None),                     # NULL text: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
           for r in remove_duplicated_spans(df, n=4).collect()}
    assert out == {
        1: (6, 0, "a b c d e f"),
        2: (6, 6, ""),
        3: (8, 4, "x y z w"),
        4: (3, 0, "p q r"),
        5: (4, 4, ""),
        6: (8, 0, "m n o p m n o p"),
        7: (0, 0, ""),
    }
    with pytest.raises(ValueError):
        remove_duplicated_spans(df, n=0)


def test_channel_histogram_counts_and_nulls(spark):
    """channel_histogram replays in python: exact bin counts (p // 16),
    integer pixel sum; bins must divide 256; NULL payloads pass through
    with NULL features."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.multimodal import (
        channel_histogram,
        synth_bitmap,
    )

    ids = spark.createDataFrame([(3,), (9,)], "media_id long")
    media = synth_bitmap(ids, width=8, height=8)
    out = {r["media_id"]: r for r in channel_histogram(media).collect()}
    for mid in (3, 9):
        px = [(mid * 31 + y * 7 + x * 13) % 256
              for y in range(8) for x in range(8)]
        want = [0] * 16
        for p in px:
            want[p // 16] += 1
        assert list(out[mid]["bins"]) == want
        assert out[mid]["px_sum"] == sum(px)
        assert out[mid]["n_pixels"] == 64
    nulled = media.withColumn("pixels", F.lit(None).cast("binary"))
    nr = channel_histogram(nulled).collect()
    assert all(r["px_sum"] is None and r["bins"] is None for r in nr)
    with pytest.raises(ValueError, match="divide 256"):
        channel_histogram(media, bins=7)


def test_mutual_knn_pairs_matches_bruteforce(spark, vectors):
    """mutual_knn_pairs == brute-force reciprocity over exact cosine
    top-k lists: each undirected pair appears once (id_a < id_b) with
    both directed ranks; one-directional neighbors are dropped."""
    import numpy as np

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        mutual_knn_pairs,
    )

    k = 2
    got = {(r["id_a"], r["id_b"]): (r["rank_ab"], r["rank_ba"])
           for r in mutual_knn_pairs(vectors, k=k).collect()}
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in vectors.collect()}
    topk = {}
    for a, va in rows.items():
        sims = sorted(
            ((b, float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))))
             for b, vb in rows.items() if b != a),
            key=lambda t: (-t[1], t[0]))[:k]
        topk[a] = {b: rk for rk, (b, _) in enumerate(sims, start=1)}
    want = {}
    for a in rows:
        for b, rab in topk[a].items():
            if a < b and a in topk[b]:
                want[(a, b)] = (rab, topk[b][a])
    assert got == want
    assert want  # the fixture must actually produce mutual pairs


def test_mutual_knn_from_index_recall_and_score_identity(spark):
    """ANN-backed mutual k-NN (the 100 TB serving shape, round-12
    verdict item 5): pairs from the persisted-IVF variant are a SUBSET
    of the exact mutual pairs (reciprocity can only lose pairs the probe
    misses, never invent one), surviving pairs carry BIT-IDENTICAL
    scores and ranks (same left-fold re-score, same total order), and on
    cluster-separated data recall stays high."""
    import math as m
    import random

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        build_ivf_index_tables,
        mutual_knn_from_index,
        mutual_knn_pairs,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )

    rng = random.Random(29)
    centers = [[1.0 if i // 16 == c else 0.0 for i in range(64)]
               for c in range(4)]
    rows = []
    for vid in range(160):
        c = centers[vid % 4]
        v = [x + rng.gauss(0, 0.05) for x in c]
        n = m.sqrt(sum(x * x for x in v))
        rows.append((vid, [float(x / n) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {(r["id_a"], r["id_b"]):
             (r["cosine_sim"], r["rank_ab"], r["rank_ba"])
             for r in mutual_knn_pairs(emb, k=4).collect()}
    try:
        build_ivf_index_tables(emb, "mknn_eq_test", n_lists=8,
                               refine_iters=1, sample_size=64)
        ann = {(r["id_a"], r["id_b"]):
               (r["cosine_sim"], r["rank_ab"], r["rank_ba"])
               for r in mutual_knn_from_index(
                   spark, "mknn_eq_test", emb, k=4, n_probe=4).collect()}
    finally:
        for t in ("mknn_eq_test_centroids", "mknn_eq_test_lists"):
            drop_table_and_location(spark, t)

    assert exact  # fixture produces mutual pairs
    # subset: ANN reciprocity can only DROP pairs vs exact.  With probes
    # covering half the lists a probed top-k list is a subset of the
    # exact top-k ranked the same way, EXCEPT ranks can compress when a
    # higher-ranked true neighbor was missed — so compare membership and
    # scores unconditionally, ranks only for pairs whose both directed
    # lists kept full depth (here: identical rank tuples).
    assert set(ann) <= set(exact)
    for pair, (sim, _, _) in ann.items():
        assert sim == exact[pair][0]  # bit-identical re-score
    # separated clusters + half-the-lists probe: high recall
    recall = len(ann) / len(exact)
    assert recall >= 0.8, recall


def test_ranking_metrics_known_values(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        cum_idcg_micro,
        inv_log2_micro,
        ranking_metrics,
    )

    inv = inv_log2_micro(3)
    # q1: approx = [b, x, a] vs exact = [a, b, c]; q2: no approx rows at
    # all (left join fills zeros); q3: approx entirely irrelevant
    exact = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3),
         (2, "a", 1), (2, "b", 2),
         (3, "a", 1), (3, "b", 2), (3, "c", 3)],
        "query_id int, vec_id string, rank int")
    approx = spark.createDataFrame(
        [(1, "b", 1), (1, "x", 2), (1, "a", 3),
         (3, "x", 1), (3, "y", 2), (3, "z", 3)],
        "query_id int, vec_id string, rank int")
    rows = {r["query_id"]: r
            for r in ranking_metrics(exact, approx, k=3).collect()}
    assert set(rows) == {1, 2, 3}

    r1 = rows[1]
    # gains: b at pos1 -> 3+1-2 = 2; x -> 0; a at pos3 -> 3
    dcg = 2 * inv[0] + 3 * inv[2]
    idcg = cum_idcg_micro(3)[2]
    assert (r1["n_exact"], r1["n_hits"]) == (3, 2)
    assert r1["recall_at_k"] == pytest.approx(2 / 3)
    assert (r1["first_hit_rank"], r1["mrr_at_k"]) == (1, 1.0)
    assert (r1["dcg_micro"], r1["idcg_micro"]) == (dcg, idcg)
    assert r1["ndcg_at_k"] == dcg / idcg

    r2 = rows[2]  # no approx rows: zeros, idcg from n_exact=2
    assert (r2["n_hits"], r2["first_hit_rank"]) == (0, 0)
    assert (r2["recall_at_k"], r2["mrr_at_k"], r2["ndcg_at_k"]) == (0, 0, 0)
    assert r2["idcg_micro"] == cum_idcg_micro(3)[1]

    r3 = rows[3]  # approx present but zero relevant
    assert (r3["n_hits"], r3["dcg_micro"], r3["ndcg_at_k"]) == (0, 0, 0.0)


def test_distinct_ngrams_known_counts(spark):
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        distinct_ngrams,
    )

    df = spark.createDataFrame(
        [("s1", "a b a b"),      # 4 toks {a,b}; bigrams: a b, b a, a b
         ("s1", "a b c"),        # 3 toks {a,b,c}; bigrams: a b, b c
         ("s2", "x"),            # 1 tok, 0 bigrams
         ("s2", "   "),          # blank: 0 tokens
         ("s3", "")],            # blank group: NULL ratios
        "source string, text string")
    rows = {r["source"]: r for r in distinct_ngrams(df).collect()}

    s1 = rows["s1"]
    assert (s1["n_tokens"], s1["n_distinct_tokens"]) == (7, 3)
    assert s1["distinct_1"] == 3 / 7
    # positions: 3 + 2 = 5; types: {a b, b a, b c} = 3
    assert (s1["n_bigrams"], s1["n_distinct_bigrams"]) == (5, 3)
    assert s1["distinct_2"] == 3 / 5

    s2 = rows["s2"]
    assert (s2["n_tokens"], s2["n_distinct_tokens"]) == (1, 1)
    assert s2["distinct_1"] == 1.0
    assert (s2["n_bigrams"], s2["n_distinct_bigrams"]) == (0, 0)
    assert s2["distinct_2"] is None

    s3 = rows["s3"]
    assert (s3["n_tokens"], s3["n_distinct_tokens"]) == (0, 0)
    assert s3["distinct_1"] is None and s3["distinct_2"] is None
