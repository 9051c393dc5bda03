"""Training-data-pipeline operator tests: dedup, text, similarity,
multimodal, relational profile."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators import dedup, multimodal, relational, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different content here entirely"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (5, "der schnelle braune fuchs und der faule hund"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup(spark, docs_df):
    out = dedup.exact_dedup(docs_df).collect()
    assert len(out) == 1
    assert out[0]["keeper"] == 1 and out[0]["n_members"] == 2


def test_jaccard_pairs(spark, docs_df):
    out = dedup.ngram_jaccard_pairs(docs_df, n=2, threshold_pct=50).toPandas()
    pairs = {(r.id_a, r.id_b) for r in out.itertuples()}
    assert (1, 4) in pairs          # identical docs
    assert (1, 2) in pairs          # 7/9 shared bigrams
    assert (1, 3) not in pairs
    row14 = out[(out.id_a == 1) & (out.id_b == 4)].iloc[0]
    assert row14["shared"] == row14["na"] == row14["nb"]


def test_jaccard_pairs_output_types(spark, docs_df):
    """The set sizes stay bigint (a persisted-docset rewrite once turned
    na/nb into int while the values hashed the same)."""
    out = dedup.ngram_jaccard_pairs(docs_df, n=2, threshold_pct=50)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("id_a", "bigint"), ("id_b", "bigint"), ("shared", "bigint"),
        ("na", "bigint"), ("nb", "bigint")]


def test_minhash_identical_docs_share_all_bands(spark, docs_df):
    out = dedup.minhash_lsh_pairs(docs_df, n_hashes=16, bands=4).toPandas()
    row = out[(out.id_a == 1) & (out.id_b == 4)]
    assert len(row) == 1 and int(row.iloc[0]["n_bands_matched"]) == 4


def test_simhash_distance_ordering(spark, docs_df):
    fp = {r["id"]: r["simhash"] for r in dedup.simhash64(docs_df, bits=32).collect()}
    ham = lambda a, b: bin(fp[a] ^ fp[b]).count("1")
    assert ham(1, 4) == 0                    # identical
    assert ham(1, 2) < ham(1, 3)             # near-dup closer than unrelated


def test_simhash_near_pairs(spark, docs_df):
    out = dedup.simhash_near_pairs(docs_df, max_hamming=8, bits=32, blocks=4).toPandas()
    pairs = {(r.id_a, r.id_b) for r in out.itertuples()}
    assert (1, 4) in pairs


def test_text_quality_and_langid(spark, docs_df):
    q = {r["id"]: r for r in text.quality_score(docs_df).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["stop_hits"] == 2            # two 'the'
    lid = {r["id"]: r["pred_lang"] for r in text.lang_id(docs_df).collect()}
    assert lid[1] == "en"
    assert lid[5] == "de"
    assert lid[3] == "und"


def test_doc_fingerprint_deterministic(spark, docs_df):
    fp = {r["id"]: r["fp"] for r in text.doc_fingerprint(docs_df).collect()}
    assert fp[1] == fp[4] != fp[2]
    # cross-check one value against a pure-python fold
    h = 0
    for ch in DOCS[0][1]:
        h = (h * 31 + ord(ch)) % dedup.M31
    assert fp[1] == h


def test_similarity_bruteforce_vs_numpy(spark):
    rng = np.random.default_rng(5)
    vecs = rng.uniform(-0.5, 0.5, (50, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, "vec_id bigint, embedding array<float>")
    out = similarity.brute_force_topk(df, df.filter(F.col("vec_id") < 5), k=3,
                                      id_col="vec_id").toPandas()
    # numpy oracle on the same quantization
    q = np.round(vecs.astype(np.float64) * similarity.SCALE).astype(np.int64)
    for qid in range(5):
        dots = q @ q[qid]
        naa = int(q[qid] @ q[qid])
        keys = []
        for cid in range(50):
            if cid == qid:
                continue
            nbb = int(q[cid] @ q[cid])
            d = int(dots[cid])
            key = np.sign(d) * (float(d * d) / float(naa * nbb))
            keys.append((-key, cid))
        expect = [cid for _, cid in sorted(keys)[:3]]
        got = out[out.query_id == qid].sort_values("rank")["neighbor_id"].tolist()
        assert got == expect, f"query {qid}"


def test_ivf_recall_reasonable(spark):
    rng = np.random.default_rng(9)
    vecs = rng.uniform(-0.5, 0.5, (200, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, "vec_id bigint, embedding array<float>")
    qs = df.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(df, qs, k=5, id_col="vec_id").toPandas()
    approx = similarity.ivf_topk(df, qs, k=5, n_centroids=4, n_probe=2,
                                 id_col="vec_id").toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5  # probing half the cells


def test_multimodal_stub_roundtrip(spark, docs_df):
    m = multimodal.attach_media(docs_df)
    out = multimodal.extract_media_meta(m).toPandas()
    assert len(out) == len(DOCS)
    assert set(out["magic"]) <= {"IMG0", "AUD0", "VID0"}
    assert (out["magic"] == out["kind"]).all()
    r1 = out[out.doc_id == 1].iloc[0]
    assert r1["n_bytes"] == 4 + len(DOCS[0][1])
    assert r1["checksum"] == sum(b"AUD0") + sum(DOCS[0][1].encode())


def test_decode_stub_rejects_unknown_magic():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"XXXXjunk")


def test_first_match_join_semantics(spark):
    prim = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
    sec = spark.createDataFrame(
        [(1, 100, "a"), (1, 50, "b"), (2, 7, "c")], "k bigint, fid bigint, v string"
    )
    out = relational.first_match_left_join(prim, sec, on="k", secondary_order="fid")
    rows = {r["k"]: (r["sec_fid"], r["sec_v"]) for r in out.collect()}
    assert rows[1] == (50, "b")      # FIRST by fid, not insertion
    assert rows[2] == (7, "c")
    assert rows[3] == (None, None)   # left row preserved


def test_buffer_convex_area_identity(spark):
    """Buffered convex polygon area = A + perimeter*d + pi*d^2 (exact
    Minkowski identity, approached as quadrant segments grow)."""
    import numpy as np
    from pyspark.sql import functions as F
    from gdal_spark.operators.vector_pipeline import buffer_convex

    ang = 2 * np.pi * np.arange(6) / 6
    vx = (3 + 2 * np.cos(ang + 0.3)).tolist()
    vy = (4 + 2 * np.sin(ang + 0.3)).tolist()
    df = spark.createDataFrame([(1, vx, vy, 1.5)],
                               "id bigint, xs array<double>, ys array<double>, bd double")
    row = buffer_convex(df, "bd", quadrant_segments=32).collect()[0]
    bx, by = np.array(row["xs"]), np.array(row["ys"])
    ring = np.column_stack([np.append(bx, bx[0]), np.append(by, by[0])])
    area = 0.5 * abs(float(np.sum(ring[:-1, 0] * ring[1:, 1]
                                  - ring[1:, 0] * ring[:-1, 1])))
    a0 = 0.5 * abs(float(np.sum(np.array(vx) * np.roll(vy, -1)
                                - np.roll(vx, -1) * np.array(vy))))
    per = float(np.sum(np.hypot(np.diff(vx + [vx[0]]), np.diff(vy + [vy[0]]))))
    expected = a0 + per * 1.5 + np.pi * 1.5 ** 2
    assert abs(area - expected) / expected < 2e-3  # qs=32 chordal error


def test_materialize_arms_identical(spark):
    """materialize=True (persisted index reuse, lineage kept) and
    =False must produce identical rows for every dedup family member —
    pins the r5 DAG-recompute sweep as pure plan surgery."""
    rng = np.random.default_rng(42)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(rng.choice(vocab, size=rng.integers(5, 25)).tolist()))
        for i in range(120)
    ]
    # exact duplicates guarantee every family finds at least one pair
    docs += [(200 + i, docs[i][1]) for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    vecs = [[float(x) for x in rng.normal(size=8)] for _ in range(60)]
    vecs += vecs[:8]  # duplicated vectors -> guaranteed cosine hits
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    cases = [
        lambda m: dedup.ngram_jaccard_pairs(df, n=2, threshold_pct=40,
                                            materialize=m),
        lambda m: dedup.minhash_lsh_pairs(df, n_hashes=16, bands=4,
                                          materialize=m),
        lambda m: dedup.simhash_near_pairs(df, max_hamming=6,
                                           materialize=m),
        lambda m: similarity.ivf_dedup_pairs(emb, n_centroids=4,
                                             cos_threshold_x10=3,
                                             materialize=m),
    ]
    for make in cases:
        a = make(True).toPandas()
        b = make(False).toPandas()
        cols = sorted(a.columns)
        a = a[cols].sort_values(cols).reset_index(drop=True)
        b = b[cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 0


def test_jaccard_merges_duplicate_id_rows(spark):
    """Duplicate doc_id rows union their gram sets — the oracle's
    DISTINCT(doc_id, gram) semantics (review finding: the first
    row-wise docset build dropped this and returned no pairs)."""
    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (1, "ff gg hh ii jj"),
         (2, "aa bb cc dd ee ff gg hh ii jj")],
        "doc_id bigint, text string",
    )
    out = dedup.ngram_jaccard_pairs(df, n=2, threshold_pct=50).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.id_a, r.id_b, r.shared, r.na, r.nb) == (1, 2, 8, 8, 9)
