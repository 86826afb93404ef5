"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing — vs pandas/numpy oracles on the documents and
embeddings tables."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_ml_spark.datapipe import dedup as D
from dask_ml_spark.datapipe import text_stats as TS
from dask_ml_spark.datapipe.multimodal import (
    attach_binary_from_text,
    audio_features,
    decode_image_features,
    frame_sample,
)
from dask_ml_spark.datapipe.similarity import IVFIndex, brute_force_topk


@pytest.fixture(scope="module")
def docs_pdf(documents):
    return documents.toPandas()


def _py_tokens(text):
    import re

    return re.findall(r"[a-z0-9_]{2,}", text.lower())


def _py_shingles(text, n=3):
    toks = _py_tokens(text)
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_exact_dedup(documents, docs_pdf):
    out = D.exact_dedup(documents).toPandas()
    # every doc hashed; group count = distinct normalized texts
    norm = docs_pdf["text"].apply(lambda t: " ".join(_py_tokens(t)))
    assert len(out) == norm.nunique()
    assert out["dup_count"].sum() == len(docs_pdf)


def test_minhash_signature_hash_parity(documents, docs_pdf):
    """Spark md5-based shingle hash must be reproducible in python."""
    sig = D.minhash_signatures(documents, n_hashes=4).toPandas().sort_values("doc_id")
    import hashlib

    a, b = D.minhash_coeffs(4, seed=42)
    want_rows = []
    for _, row in docs_pdf.sort_values("doc_id").iterrows():
        sh = _py_shingles(row["text"])
        if not sh:
            continue
        hs = np.array([
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % D.MERSENNE_P for s in sh
        ], dtype=np.int64)
        want_rows.append([row["doc_id"]] + [int(((hs * a[i] + b[i]) % D.MERSENNE_P).min()) for i in range(4)])
    want = pd.DataFrame(want_rows, columns=["doc_id", "m0", "m1", "m2", "m3"])
    got = sig[sig.doc_id.isin(want.doc_id)].reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_names=False
    )


def test_minhash_lsh_finds_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    docs = [
        (1, base),
        (2, base + " extra"),            # near-dup of 1
        (3, "completely different text about spark dataframes and distributed query engines at scale"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = D.minhash_lsh_pairs(df, n_hashes=16, bands=8).toPandas()
    assert ((pairs.id_a == 1) & (pairs.id_b == 2)).any()
    assert not ((pairs.id_b == 3) | (pairs.id_a == 3)).any()


def test_simhash_near_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest"
    docs = [(1, base), (2, base + " now"), (3, "unrelated corpus of words entirely distinct vocabulary")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fps = D.simhash(df).toPandas()
    assert fps["simhash"].between(0, 2**32 - 1).all()
    pairs = D.simhash_near_pairs(df, max_hamming=6).toPandas()
    assert ((pairs.id_a == 1) & (pairs.id_b == 2)).any()


def test_ngram_jaccard(spark):
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "one two three four five six"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = D.ngram_jaccard_pairs(df, shingle_n=3).toPandas()
    s1, s2 = _py_shingles(docs[0][1]), _py_shingles(docs[1][1])
    want = len(s1 & s2) / len(s1 | s2)
    got = out[(out.id_a == 1) & (out.id_b == 2)]["jaccard"].iloc[0]
    np.testing.assert_allclose(got, want)
    assert not ((out.id_a == 3) | (out.id_b == 3)).any()


def test_embedding_near_dup(embeddings):
    pairs = D.embedding_near_dup_pairs(
        embeddings, threshold=0.99, exact=False
    ).toPandas()
    # verify against exact numpy for found pairs
    pdf = embeddings.toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in pdf.itertuples()}
    for row in pairs.itertuples():
        a, b = vecs[row.id_a], vecs[row.id_b]
        cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        np.testing.assert_allclose(row.cosine, cos, rtol=1e-6)
        assert cos >= 0.99


def test_near_dup_banding_recall_and_bucket_population(spark):
    """Banded LSH finds planted duplicates while keeping per-(band,
    bucket) populations tiny on random data — the property that kills
    the N²/buckets candidate blowup at corpus scale."""
    from dask_ml_spark.datapipe.similarity import CosineLSHIndex

    rng = np.random.RandomState(7)
    n, dim = 2000, 32
    X = rng.standard_normal((n, dim))
    X[1000:1010] = X[:10]  # 10 planted exact-dup pairs
    pdf = pd.DataFrame({
        "vec_id": range(n),
        "embedding": [[float(v) for v in row] for row in X],
    })
    df = spark.createDataFrame(pdf)
    pairs = D.embedding_near_dup_pairs(
        df, threshold=0.999, n_bands=8, bits_per_band=16, dim=dim
    ).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    assert {(i, 1000 + i) for i in range(10)} <= found
    # skewed-population check: even with duplicates planted, no single
    # (band, bucket) cell concentrates the corpus
    idx = CosineLSHIndex(n_bands=8, bits_per_band=16, seed=42).fit(df)
    pops = (idx.index(df).groupBy("band", "bucket").count()
            .agg(F.max("count")).collect()[0][0])
    assert pops <= 10


def test_brute_force_topk(embeddings):
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(embeddings, queries, k=5).toPandas()
    assert set(out.groupby("query_id").size()) == {5}
    # oracle: numpy exact top-5 for query 0
    pdf = embeddings.toPandas()
    V = np.stack([np.array(v, dtype="float64") for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    q = V[ids == 0][0]
    sims = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
    order = [i for i in np.argsort(-sims) if ids[i] != 0][:5]
    want = set(ids[order])
    got = set(out[out.query_id == 0]["vec_id"])
    assert got == want


def test_ivf_index_recall(embeddings):
    queries = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=5).toPandas()
    ivf = IVFIndex(n_lists=8, n_probe=3).fit(embeddings)
    approx = ivf.search(embeddings, queries, k=5).toPandas()
    # recall@5 over 5 queries should be decent with 3/8 probes
    hits = 0
    for qid in range(5):
        e = set(exact[exact.query_id == qid]["vec_id"])
        a = set(approx[approx.query_id == qid]["vec_id"])
        hits += len(e & a)
    assert hits / 25 >= 0.4


def test_language_scores(documents, docs_pdf):
    out = TS.language_scores(documents).toPandas()
    assert set(out.columns) == {"doc_id", "score_en", "score_de", "score_fr", "score_es", "lang_pred"}
    assert out["lang_pred"].isin(["en", "de", "fr", "es"]).all()
    # if the documents table has an en-dominant corpus, most en docs match
    merged = out.merge(docs_pdf[["doc_id", "lang"]], on="doc_id")
    en = merged[merged.lang == "en"]
    if len(en) > 20:
        assert (en.lang_pred == "en").mean() > 0.5


def test_quality_scores(documents, docs_pdf):
    out = TS.quality_scores(documents).toPandas().sort_values("doc_id")
    want_chars = docs_pdf.sort_values("doc_id")["text"].str.len().to_numpy()
    np.testing.assert_array_equal(out["n_chars"].to_numpy(), want_chars)
    want_tokens = docs_pdf.sort_values("doc_id")["text"].apply(lambda t: len(_py_tokens(t))).to_numpy()
    np.testing.assert_array_equal(out["n_tokens"].to_numpy(), want_tokens)
    assert out["punct_ratio"].between(0, 1).all()


def test_document_fingerprint(documents):
    out = TS.document_fingerprint(documents).toPandas()
    assert out["fingerprint"].str.len().eq(32).all()


def test_quality_filter(documents):
    kept = TS.quality_filter(documents, min_tokens=5).count()
    assert 0 < kept <= documents.count()


def test_multimodal_image_stub(documents):
    withblob = attach_binary_from_text(documents)
    feats = decode_image_features(withblob, resize=(4, 4)).toPandas()
    assert len(feats) == documents.count()
    assert feats["features"].apply(len).eq(16).all()
    # deterministic: same bytes → same features
    f2 = decode_image_features(withblob, resize=(4, 4)).toPandas()
    a = feats.sort_values("doc_id")["features"].iloc[0]
    b = f2.sort_values("doc_id")["features"].iloc[0]
    np.testing.assert_allclose(a, b)


def test_multimodal_real_bmp_ppm_decode(spark):
    """stub=False is a REAL decode for BMP/PPM: pixels round-trip
    through encode_bmp → Spark mapInPandas → nearest-resize →
    channel-mean features, matching a pure-numpy oracle."""
    from dask_ml_spark.datapipe.multimodal import (
        _decode_any,
        _resize_nearest,
        encode_bmp,
    )

    rng = np.random.RandomState(3)
    imgs = {i: rng.randint(0, 256, size=(16, 12, 3), dtype="uint8") for i in range(4)}
    rows = [
        {"doc_id": i, "blob": bytearray(encode_bmp(img))} for i, img in imgs.items()
    ]
    # one PPM row to cover the second format
    ppm_img = imgs[0]
    ppm = b"P6\n# comment\n12 16\n255\n" + ppm_img.transpose(0, 1, 2).tobytes()
    rows.append({"doc_id": 99, "blob": bytearray(ppm)})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = decode_image_features(df, resize=(4, 4), stub=False).toPandas()
    assert len(out) == 5
    for _, r in out.iterrows():
        src = imgs[r.doc_id] if r.doc_id in imgs else ppm_img
        want = _resize_nearest(src, 4, 4).mean(axis=2).ravel()
        np.testing.assert_allclose(np.asarray(r.features), want)
    # BMP decode itself is exact, including stride-padded odd widths
    np.testing.assert_array_equal(_decode_any(encode_bmp(imgs[1])), imgs[1])
    for w in (1, 2, 3, 5, 7):
        odd = rng.randint(0, 256, size=(3, w, 3), dtype="uint8")
        np.testing.assert_array_equal(_decode_any(encode_bmp(odd)), odd)
    # codec-less formats stay honestly stubbed (JPEG and PNG are real
    # now — an unknown container must still raise, not fake-decode)
    with pytest.raises(NotImplementedError):
        _decode_any(b"\x1aE\xdf\xa3 fake webm")


def test_multimodal_frame_sample(documents):
    withblob = attach_binary_from_text(documents)
    frames = frame_sample(withblob, n_frames=3).toPandas()
    assert len(frames) == 3 * documents.count()
    assert set(frames["frame_idx"]) == {0, 1, 2}


def test_multimodal_audio_stub(documents):
    withblob = attach_binary_from_text(documents)
    mel = audio_features(withblob, n_mels=8).toPandas()
    assert mel["mel"].apply(len).eq(8).all()


def test_multimodal_real_decode_raises(documents):
    """stub=False on blobs that aren't BMP/PPM (here: utf-8 text) still
    raises — decode now happens in the executor task, so the error
    surfaces at action time wrapped by PySpark."""
    withblob = attach_binary_from_text(documents)
    with pytest.raises(Exception, match="NotImplementedError|only uncompressed BMP"):
        decode_image_features(withblob, stub=False).collect()


def test_io_format_roundtrips(spark, tmp_path):
    """parquet/orc/csv/json writers and readers round-trip a frame."""
    from dask_ml_spark.sources import io as sio

    df = spark.range(100).selectExpr(
        "id", "cast(id % 7 as double) as v", "concat('s', id % 3) as s")
    pdf = df.toPandas().sort_values("id").reset_index(drop=True)

    p = str(tmp_path / "t.parquet"); sio.write_parquet(df, p)
    o = str(tmp_path / "t.orc"); sio.write_orc(df, o)
    c = str(tmp_path / "t.csv"); sio.write_csv(df, c)
    j = str(tmp_path / "t.json"); sio.write_json(df, j)

    for path, reader in [(p, sio.read_parquet), (o, sio.read_orc)]:
        back = reader(spark, path).toPandas().sort_values("id").reset_index(drop=True)
        assert back.equals(pdf[back.columns])
    back = sio.read_csv(spark, c).toPandas().sort_values("id").reset_index(drop=True)
    assert list(back["v"]) == list(pdf["v"])
    back = sio.read_json(spark, j).select("id", "v", "s").toPandas().sort_values("id").reset_index(drop=True)
    assert list(back["s"]) == list(pdf["s"])


def test_write_partitioned_prunes(spark, tmp_path):
    """partitionBy layout: a filtered read scans only one directory."""
    from dask_ml_spark.sources import io as sio

    df = spark.range(90).selectExpr("id", "concat('p', id % 3) as part")
    path = str(tmp_path / "parts")
    sio.write_parquet(df, path, partition_by=["part"])
    got = spark.read.parquet(path).where("part = 'p1'")
    assert got.count() == 30
    plan = got._sc._jvm.PythonSQLUtils.explainString(got._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [isnotnull(part" in plan


def test_repetition_scores_flags_boilerplate(spark):
    from dask_ml_spark.datapipe.text_stats import repetition_scores

    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "same line\nsame line\nsame line\nsame line",      # dup lines
            "buy now buy now buy now buy now buy now",          # stuffed bigram
            "a genuinely varied sentence with distinct words",  # clean
        ],
    })
    out = repetition_scores(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert out.loc[1, "dup_line_frac"] == pytest.approx(0.75)
    assert out.loc[2, "top_bigram_frac"] > 0.5
    assert out.loc[3, "dup_line_frac"] == 0.0
    assert out.loc[3, "top_bigram_frac"] <= 0.2


def test_repetition_scores_short_docs(spark):
    """Docs with <2 tokens or no lines don't divide by zero."""
    import pandas as pd

    from dask_ml_spark.datapipe.text_stats import repetition_scores

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["word", ""]})
    out = repetition_scores(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert out.loc[1, "n_bigrams"] == 0 and out.loc[1, "top_bigram_frac"] == 0.0
    assert out.loc[2, "n_lines"] == 0


def test_bm25_scores_hand_computed(spark):
    """3-doc corpus checked against a direct numpy BM25 computation."""
    import math

    import pandas as pd

    from dask_ml_spark.datapipe.text_stats import bm25_scores

    corpus = {1: "red fox jumps", 2: "red red dog", 3: "blue whale"}
    pdf = pd.DataFrame({"doc_id": list(corpus), "text": list(corpus.values())})
    out = bm25_scores(spark.createDataFrame(pdf), ["red", "dog"]).toPandas()
    out = out.set_index("doc_id")

    def bm25(tf, df, dl, n=3, avgdl=8.0 / 3, k1=1.2, b=0.75):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert out.loc[1, "bm25"] == pytest.approx(bm25(1, 2, 3))
    assert out.loc[2, "bm25"] == pytest.approx(bm25(2, 2, 3) + bm25(1, 1, 3))
    assert 3 not in out.index  # no matching term, no row
    assert out.loc[2, "n_matched_terms"] == 2


def test_duplicate_clusters_chain_and_clique(spark):
    """A 4-chain (diameter 3, needs >1 propagation round), a triangle,
    and an isolated pair all collapse to min-id clusters."""
    import pandas as pd

    from dask_ml_spark.datapipe.dedup import duplicate_clusters

    pairs = pd.DataFrame({
        "id_a": [1, 2, 3, 10, 10, 11, 20],
        "id_b": [2, 3, 4, 11, 12, 12, 21],
    })
    cl = duplicate_clusters(spark.createDataFrame(pairs)).toPandas()
    got = dict(zip(cl["node"], cl["cluster"]))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_duplicate_clusters_null_ids_survive_local_finish(spark):
    """A NULL id in a long-typed pair column must not crash the hybrid
    local finish (int(NaN) raised in union-find before the r14 fix);
    the non-null components still resolve to min-id clusters."""
    from dask_ml_spark.datapipe.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 7), (10, 11)],
        "id_a long, id_b long")
    cl = duplicate_clusters(pairs).toPandas()
    got = {int(n): int(c) for n, c in zip(cl["node"], cl["cluster"])
           if n == n and n is not None}
    for node, want in {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}.items():
        assert got[node] == want


def test_duplicate_clusters_null_ids_same_on_both_paths(spark, monkeypatch):
    """NULL-id pairs are dropped once, before the local/distributed
    gate: the driver union-find finish and the distributed star loop
    return the same rows, and node 7 — paired only with a NULL id —
    is in neither."""
    from dask_ml_spark import utils
    from dask_ml_spark.datapipe.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 7), (10, 11), (12, None)],
        "id_a long, id_b long")

    def rows(cap):
        with monkeypatch.context() as m:
            m.setattr(utils, "MAX_DRIVER_EDGES", cap)
            cl = duplicate_clusters(pairs).collect()
        return sorted((r["node"], r["cluster"]) for r in cl)

    local, distributed = rows(1_000_000), rows(0)
    assert local == distributed
    assert local == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]


def test_duplicate_clusters_rejects_non_integral_ids(spark):
    """String ids would cast to NULL and silently vanish from the edge
    set; the engine refuses any non-integral id column by name."""
    from dask_ml_spark.datapipe.dedup import duplicate_clusters

    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    with pytest.raises(ValueError, match="'id_a'"):
        duplicate_clusters(pairs)
    pairs = spark.createDataFrame([(1, 2.0)], "id_a int, id_b double")
    with pytest.raises(ValueError, match="'id_b'"):
        duplicate_clusters(pairs)


def test_dedup_keep_representatives(spark):
    import pandas as pd

    from dask_ml_spark.datapipe.dedup import dedup_keep_representatives

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5], "text": list("abcde")}))
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1, 4], "id_b": [2, 5]}))
    kept = dedup_keep_representatives(docs, pairs).toPandas()
    assert sorted(kept["doc_id"]) == [1, 3, 4]  # 2 and 5 dropped


def test_redact_pii_synthetic(spark):
    import pandas as pd

    from dask_ml_spark.datapipe.packing import redact_pii

    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": [
            "mail me at jane.doe+x@example.org or call +1 (555) 123-4567 now",
            "server at 10.0.0.1 is fine",
        ],
    })
    out = redact_pii(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert out.loc[1, "n_email"] == 1 and out.loc[1, "n_phone"] == 1
    assert "[EMAIL]" in out.loc[1, "redacted_text"]
    assert "[PHONE]" in out.loc[1, "redacted_text"]
    assert "jane" not in out.loc[1, "redacted_text"]
    assert out.loc[2, "n_ipv4"] == 1 and "[IPV4]" in out.loc[2, "redacted_text"]


def test_pack_token_shards_invariants(spark, documents):
    from dask_ml_spark.datapipe.packing import pack_token_shards

    budget = 256
    out = pack_token_shards(documents, budget=budget).toPandas()
    out = out.sort_values("doc_id").reset_index(drop=True)
    # shards are contiguous in doc order and non-decreasing
    assert (out["shard"].diff().dropna() >= 0).all()
    # every shard's START offsets stay within one budget of each other:
    # recompute offsets and check the invariant shard == floor(off/budget)
    off = out["n_tokens"].cumsum() - out["n_tokens"]
    assert (out["shard"] == (off // budget)).all()
    # partition-invariant
    out2 = pack_token_shards(documents.repartition(7), budget=budget).toPandas()
    out2 = out2.sort_values("doc_id").reset_index(drop=True)
    assert (out["shard"] == out2["shard"]).all()


def test_bm25_topk_ranks_per_query(spark):
    import pandas as pd

    from dask_ml_spark.datapipe.text_stats import bm25_topk

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["red red red fox", "red dog", "blue whale blue"],
    })
    out = bm25_topk(spark.createDataFrame(pdf),
                    {"qa": ["red"], "qb": ["blue", "dog"]}, k=2).toPandas()
    qa = out[out.query_id == "qa"].sort_values("rank")
    assert list(qa["doc_id"]) == [1, 2]  # higher tf on shorter-ish doc wins
    qb = out[out.query_id == "qb"].sort_values("rank")
    assert set(qb["doc_id"]) == {2, 3} and len(qb) == 2


def test_profile_table(spark):
    from dask_ml_spark.datapipe.profiling import profile_table

    df = spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (3, 4.0, None), (4, 4.0, "b")],
        ["k", "v", "s"])
    prof = {r["column"]: r for r in profile_table(df, approx_distinct=False).collect()}
    assert set(prof) == {"k", "v", "s"}
    assert prof["k"]["n_rows"] == 4 and prof["k"]["n_nulls"] == 0
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["null_frac"] == 0.25
    assert prof["v"]["n_distinct"] == 2  # nulls excluded, 4.0 deduped
    assert prof["v"]["min_num"] == 2.0 and prof["v"]["max_num"] == 4.0
    assert prof["s"]["min_str"] == "a" and prof["s"]["max_str"] == "b"
    assert prof["s"]["min_num"] is None  # numeric stats absent for strings
    # approx path: HLL cardinality within rsd of exact on tiny data
    approx = {r["column"]: r for r in profile_table(df).collect()}
    assert approx["k"]["n_distinct"] == 4
    # column selection restricts the profile
    only = profile_table(df, ["k"], approx_distinct=False).collect()
    assert [r["column"] for r in only] == ["k"]
    # check_hll: exact n_distinct + a deterministic HLL bound flag in
    # one fused aggregate (the oracle rendering of the approx path)
    chk = {r["column"]: r for r in profile_table(df, check_hll=True).collect()}
    assert chk["k"]["n_distinct"] == 4 and chk["k"]["hll_ok"] is True
    assert chk["v"]["n_distinct"] == 2 and chk["v"]["hll_ok"] is True
    assert "hll_ok" not in profile_table(df).columns


def test_unigram_logprob_scores(spark):
    from dask_ml_spark.datapipe.text_stats import unigram_logprob_scores

    df = spark.createDataFrame([
        (1, "common common common words here"),
        (2, "common words"),
        (3, "zxqv jkwp qqzz"),  # singletons only -> least probable
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_logprob_scores(df).collect()}
    assert out[1]["n_tokens"] == 5 and out[3]["n_tokens"] == 3
    # the all-rare doc scores strictly lowest
    assert out[3]["avg_logprob"] < out[1]["avg_logprob"]
    assert out[3]["avg_logprob"] < out[2]["avg_logprob"]
    # scores are log-probabilities: strictly negative
    assert all(r["avg_logprob"] < 0 for r in out.values())


def test_binary_file_ingestion_to_decode(spark, tmp_path):
    """binaryFile source → length-pruned scan → real BMP decode: the
    end-to-end multimodal ingestion path."""
    from dask_ml_spark.datapipe.multimodal import encode_bmp
    from dask_ml_spark.sources.io import read_binary_files

    rng = np.random.RandomState(5)
    d = tmp_path / "imgs"
    d.mkdir()
    for i in range(4):
        img = rng.randint(0, 256, size=(8, 8, 3), dtype="uint8")
        (d / f"img_{i}.bmp").write_bytes(encode_bmp(img))
    (d / "huge.bmp").write_bytes(b"BM" + b"\0" * 10_000)

    files = read_binary_files(spark, str(d), glob="*.bmp", max_bytes=1000)
    assert files.count() == 4  # oversized blob pruned by metadata filter
    withid = files.withColumn(
        "doc_id", F.xxhash64("path")).select("doc_id", F.col("content").alias("blob"))
    feats = decode_image_features(withid, resize=(4, 4), stub=False).toPandas()
    assert len(feats) == 4
    assert feats["features"].map(len).eq(16).all()


def test_paragraph_dedup(spark):
    """Boilerplate shared across documents is stripped after its first
    occurrence; unique prose survives; documents reassemble in order."""
    boiler = "subscribe to our newsletter"
    docs = [
        (1, f"intro one\n\n{boiler}\n\nbody one"),
        (2, f"{boiler}\n\nbody two"),
        (3, "body three\n\nbody three"),  # intra-doc repeat: keep first
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in D.paragraph_dedup(df).collect()}
    assert out[1].text == f"intro one\n\n{boiler}\n\nbody one"
    assert out[2].text == "body two" and out[2].n_kept == 1
    assert out[3].text == "body three" and out[3].n_paragraphs == 2


def test_semantic_dedup_matches_numpy_triu(embeddings):
    """Pinned-quantizer SemDeDup vs an exact numpy replay of the
    released implementation's triu-max rule: drop any vector with
    cosine >= eps to an earlier-ranked member of its cluster."""
    pdf = embeddings.toPandas().sort_values("vec_id")
    X = np.array(pdf.embedding.tolist(), dtype="float64")
    ids = pdf.vec_id.to_numpy()
    cent = X[:8]
    # numpy replay: nearest-centroid assignment, id-order triu rule
    d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    assign = d.argmin(axis=1)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    expect_drop = set()
    expect_pairs = set()
    for c in np.unique(assign):
        member_idx = np.where(assign == c)[0]
        S = Xn[member_idx] @ Xn[member_idx].T
        iu = np.triu_indices(len(member_idx), k=1)
        for i, j in zip(*iu):
            if S[i, j] >= 0.9:
                expect_pairs.add((ids[member_idx[i]], ids[member_idx[j]]))
                expect_drop.add(ids[member_idx[j]])
    pairs = D.semantic_dedup_pairs(
        embeddings, centroids=cent, threshold=0.9, order="id"
    ).toPandas()
    assert set(zip(pairs.id_a, pairs.id_b)) == expect_pairs
    kept = D.semantic_dedup(
        embeddings, centroids=cent, threshold=0.9, order="id"
    ).toPandas()
    assert set(kept.vec_id) == set(ids) - expect_drop


def test_semantic_dedup_learned_quantizer_and_centroid_order(embeddings):
    """Production defaults: learned quantizer + paper-faithful
    centroid-distance ranking. Invariants: kept ∪ dropped partitions
    the corpus; every dropped vector has a >=eps within-cluster
    neighbor; and under centroid order the cluster outlier (rank 1)
    is never dropped."""
    kept = D.semantic_dedup(
        embeddings, n_clusters=8, threshold=0.95, order="centroid", seed=3
    ).toPandas()
    n = embeddings.count()
    pairs = D.semantic_dedup_pairs(
        embeddings, n_clusters=8, threshold=0.95, order="centroid", seed=3
    ).toPandas()
    dropped = set(pairs.id_b)
    assert set(kept.vec_id) | dropped == set(range(n))
    assert not (set(kept.vec_id) & dropped)
    # id_a of a pair ranks before id_b, so rank-1 members only appear as id_a
    assert dropped <= set(pairs.id_b)
    assert len(kept) == n - len(dropped)


def test_semantic_dedup_target_pairs_per_item(embeddings):
    """Linear-cost mode: target_pairs_per_item sizes the quantizer as
    k = ceil(N/(2t+1)) — so k grows LINEARLY with N (pair volume
    ~N*t, vs the paper sqrt rule's N^1.5) — and the run equals an
    explicit n_clusters run at the same k. Pinned centroids reject
    the knob (their geometry is fixed)."""
    import pytest as _pytest

    n = embeddings.count()
    t = 4.0
    k_expect = -(-n // int(2 * t + 1))
    # kmeans quantizer: the knob run equals an explicit n_clusters run
    via_knob = D.semantic_dedup(
        embeddings, threshold=0.95, order="id", seed=3,
        target_pairs_per_item=t, quantizer="kmeans").toPandas()
    explicit = D.semantic_dedup(
        embeddings, threshold=0.95, order="id", seed=3,
        n_clusters=k_expect, quantizer="kmeans").toPandas()
    assert sorted(via_knob.vec_id) == sorted(explicit.vec_id)
    # doubling N doubles k (to rounding): the closed form is linear in N
    assert abs(-(-(2 * n) // int(2 * t + 1)) - 2 * k_expect) <= 1
    with _pytest.raises(ValueError, match="pinned"):
        D.semantic_dedup_pairs(
            embeddings, centroids=np.zeros((4, 8)),
            target_pairs_per_item=t)

    # quantizer="auto" picks the LSH code path under the knob (the
    # kmeans assignment is N·k = N²/c work at k ~ N/c — measured 11.6x
    # runtime for 10x rows; the hyperplane code is N·log2(k)):
    # every emitted pair must share a bucket AND clear the threshold,
    # buckets are content-deterministic, and order='centroid' rejects
    pairs = D.semantic_dedup_pairs(
        embeddings, threshold=0.44, order="id",
        target_pairs_per_item=t).toPandas()
    assert (pairs.cosine >= 0.44).all()
    assert (pairs.id_a < pairs.id_b).all()
    pairs2 = D.semantic_dedup_pairs(
        embeddings.repartition(7), threshold=0.44, order="id",
        target_pairs_per_item=t).toPandas()
    assert sorted(map(tuple, pairs[["id_a", "id_b"]].values.tolist())) == \
        sorted(map(tuple, pairs2[["id_a", "id_b"]].values.tolist()))
    # lsh pairs are a SUBSET of the true near-dup pairs (bucket-split
    # recall trade), all verified by exact cosine
    brute = D.embedding_near_dup_pairs(
        embeddings, threshold=0.44, exact=True).toPandas()
    bset = set(map(tuple, brute[["id_a", "id_b"]].values.tolist()))
    assert set(map(tuple, pairs[["id_a", "id_b"]].values.tolist())) <= bset
    with _pytest.raises(ValueError, match="centroid"):
        D.semantic_dedup_pairs(embeddings, order="centroid",
                               target_pairs_per_item=t)
    with _pytest.raises(ValueError, match="quantizer"):
        D.semantic_dedup_pairs(embeddings, quantizer="pq")


def test_connected_components_star_chain_and_equivalence(spark, monkeypatch):
    """Star contraction resolves a 60-node chain (diameter 59) in
    O(log²) rounds, raises instead of returning a half-contracted map
    when max_iter runs out, and agrees exactly with the driver
    union-find on a random multi-component graph."""
    from dask_ml_spark import utils

    chain = spark.createDataFrame(
        pd.DataFrame({"id_a": range(59), "id_b": range(1, 60)}))
    # the default cap finishes this tiny graph driver-side
    hyb = D.duplicate_clusters(chain, max_iter=10).toPandas()
    assert (dict(zip(hyb.node, hyb.cluster))
            == {int(n): 0 for n in range(60)})
    # cap 0 pins the DISTRIBUTED star loop itself
    monkeypatch.setattr(utils, "MAX_DRIVER_EDGES", 0)
    out = D.duplicate_clusters(chain, max_iter=10).toPandas()
    assert set(out.cluster) == {0}
    assert set(out.node) == set(range(60))
    assert len(out) == 60
    with pytest.raises(RuntimeError, match="max_iter=1"):
        D.duplicate_clusters(chain, max_iter=1)

    rng = np.random.RandomState(11)
    edges = pd.DataFrame({
        "id_a": rng.randint(0, 200, 300),
        "id_b": rng.randint(0, 200, 300),
    })
    edges = edges[edges.id_a != edges.id_b]
    pairs = spark.createDataFrame(edges)
    loop = D.duplicate_clusters(pairs).toPandas()  # still at cap 0
    ref = D._components_local(pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"))).toPandas()
    assert len(loop) == len(ref)
    assert (dict(zip(loop.node, loop.cluster))
            == dict(zip(ref.node, ref.cluster)))


def test_quantize_embeddings_roundtrip_and_recall(embeddings):
    """Int8 quantization: codes in range, reconstruction error bounded
    by vstep/2 per element, and brute-force top-k over DEQUANTIZED
    vectors recalls >=80% of the exact top-k."""
    from dask_ml_spark.datapipe.similarity import (
        dequantize_embeddings, quantize_embeddings)

    q = quantize_embeddings(embeddings, keep_vec=True)
    deq = dequantize_embeddings(
        q.select("vec_id", "code", "vmin", "vstep",
                 F.col("embedding").alias("orig")),
        vec_col="embedding")
    pdf = deq.toPandas()
    for row in pdf.itertuples():
        orig = np.array(row.orig, dtype="float64")
        rec = np.array(row.embedding, dtype="float64")
        assert all(-128 <= c <= 127 for c in row.code)
        assert np.abs(orig - rec).max() <= row.vstep / 2 + 1e-9
    # recall of approximate search over reconstructed vectors
    queries = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(embeddings, queries, k=10).toPandas()
    approx = brute_force_topk(
        deq.select("vec_id", "embedding"), queries, k=10).toPandas()
    e = set(zip(exact.query_id, exact.vec_id))
    a = set(zip(approx.query_id, approx.vec_id))
    assert len(e & a) / len(e) >= 0.8


def test_ranking_metrics_hand_computed(spark):
    """recall/MRR/nDCG vs hand-computed values, including a query with
    zero hits (left-join zeros) and a partially-overlapping ranking."""
    import pandas as pd

    from dask_ml_spark.datapipe.similarity import ranking_metrics

    truth = spark.createDataFrame(pd.DataFrame({
        "query_id": [1, 1, 1, 2, 2, 2, 3, 3],
        "vec_id":   [10, 11, 12, 20, 21, 22, 30, 31],
        "rank":     [1, 2, 3, 1, 2, 3, 1, 2],
    }))
    pred = spark.createDataFrame(pd.DataFrame({
        # q1: perfect; q2: one hit at rank 3; q3: no hits
        "query_id": [1, 1, 1, 2, 2, 2, 3, 3],
        "vec_id":   [10, 11, 12, 99, 98, 20, 97, 96],
        "rank":     [1, 2, 3, 1, 2, 3, 1, 2],
    }))
    out = ranking_metrics(pred, truth, k=3).toPandas().set_index("query_id")
    idcg3 = sum(1 / np.log2(r + 1) for r in (1, 2, 3))
    idcg2 = sum(1 / np.log2(r + 1) for r in (1, 2))
    assert out.loc[1, "recall_at_k"] == pytest.approx(1.0)
    assert out.loc[1, "mrr_at_k"] == pytest.approx(1.0)
    assert out.loc[1, "ndcg_at_k"] == pytest.approx(1.0)
    assert out.loc[2, "recall_at_k"] == pytest.approx(1 / 3)
    assert out.loc[2, "mrr_at_k"] == pytest.approx(1 / 3)
    assert out.loc[2, "ndcg_at_k"] == pytest.approx((1 / np.log2(4)) / idcg3)
    assert out.loc[3, "recall_at_k"] == 0.0
    assert out.loc[3, "mrr_at_k"] == 0.0
    assert out.loc[3, "ndcg_at_k"] == 0.0
    assert out.loc[3].name == 3 and idcg2 > 0  # zero-hit query present


def test_dedup_against_exact_and_minhash(spark):
    """Cross-corpus dedup: exact drops only true content matches; the
    minhash path also catches a near-duplicate (one word changed)."""
    import pandas as pd

    base = ("the quick brown fox jumps over the lazy dog while the "
            "sun sets slowly behind distant purple mountains tonight")
    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": [base, "completely different corpus material about ships"],
    }))
    new = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12],
        "text": [base,                       # exact dup of corpus 1
                 base.replace("dog", "cat"),  # near-dup of corpus 1
                 "fresh unseen content with nothing in common at all here"],
    }))
    exact = D.dedup_against(new, corpus, method="exact").toPandas()
    assert set(exact.doc_id) == {11, 12}
    near = D.dedup_against(new, corpus, method="minhash",
                           n_hashes=16, bands=8, min_jaccard=0.5).toPandas()
    assert set(near.doc_id) == {12}


def test_dedup_stream_against_static_corpus(spark, tmp_path):
    """Stream-static anti join drops arriving docs whose hash is in
    the static corpus; batch rendering agrees with dedup_against."""
    import pandas as pd

    from dask_ml_spark.streaming.dedup import dedup_stream_against

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "text": ["known document body"]}))
    arriving = pd.DataFrame({
        "doc_id": [10, 11],
        "text": ["known document body", "brand new document body"]})
    src = str(tmp_path / "arrivals")
    spark.createDataFrame(arriving).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = dedup_stream_against(stream, corpus)
    q = (out.writeStream.format("memory").queryName("xdedup_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = spark.sql("select * from xdedup_out").toPandas()
    assert set(got.doc_id) == {11}
    batch = D.dedup_against(
        spark.createDataFrame(arriving), corpus, method="exact").toPandas()
    assert set(batch.doc_id) == set(got.doc_id)


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join vs pandas.merge_asof (backward, by-key, with and
    without tolerance) on random event data."""
    import pandas as pd

    from dask_ml_spark.operators.joins import asof_join

    rng = np.random.RandomState(5)
    left = pd.DataFrame({
        "user": rng.randint(0, 5, 80),
        "t": rng.randint(0, 1000, 80).astype("float64"),
        "lv": rng.randn(80),
    }).sort_values("t").reset_index(drop=True)
    right = pd.DataFrame({
        "user": rng.randint(0, 5, 60),
        "t": rng.randint(0, 1000, 60).astype("float64"),
        "rv": rng.randn(60),
    }).drop_duplicates(["user", "t"]).sort_values("t").reset_index(drop=True)
    expect = pd.merge_asof(left, right, on="t", by="user",
                           direction="backward", suffixes=("", "_right"))
    got = (asof_join(spark.createDataFrame(left),
                     spark.createDataFrame(right),
                     on="t", by="user", suffix="_right")
           .toPandas().sort_values(["t", "user", "lv"]).reset_index(drop=True))
    exp = expect.sort_values(["t", "user", "lv"]).reset_index(drop=True)
    pd.testing.assert_series_equal(got["rv_right"], exp["rv"].rename("rv_right"),
                                   check_exact=False)
    # tolerance: matches older than 100 units null out
    expect_tol = pd.merge_asof(left, right, on="t", by="user",
                               direction="backward", tolerance=100.0,
                               suffixes=("", "_right"))
    got_tol = (asof_join(spark.createDataFrame(left),
                         spark.createDataFrame(right),
                         on="t", by="user", tolerance=100.0, suffix="_right")
               .toPandas().sort_values(["t", "user", "lv"]).reset_index(drop=True))
    exp_tol = expect_tol.sort_values(["t", "user", "lv"]).reset_index(drop=True)
    pd.testing.assert_series_equal(
        got_tol["rv_right"], exp_tol["rv"].rename("rv_right"), check_exact=False)


def test_interval_join_matches_naive(spark):
    """Bucketed interval join == naive containment filter, across
    bucket widths smaller/larger than the interval lengths."""
    import pandas as pd

    from dask_ml_spark.operators.joins import interval_join

    rng = np.random.RandomState(9)
    pts = pd.DataFrame({
        "g": rng.randint(0, 3, 120),
        "p": rng.uniform(0, 500, 120),
        "pid": range(120),
    })
    start = rng.uniform(0, 480, 40)
    iv = pd.DataFrame({
        "g": rng.randint(0, 3, 40),
        "s": start,
        "e": start + rng.uniform(1, 60, 40),
        "iid": range(40),
    })
    naive = pts.merge(iv, on="g")
    naive = naive[(naive.p >= naive.s) & (naive.p <= naive.e)]
    expect = set(zip(naive.pid, naive.iid))
    for width in (10.0, 100.0):
        got = interval_join(
            spark.createDataFrame(pts), spark.createDataFrame(iv),
            point_col="p", start_col="s", end_col="e", by="g",
            bucket_width=width).toPandas()
        assert set(zip(got.pid, got.iid)) == expect


def test_asof_join_forward_and_nearest(spark):
    """forward / nearest directions vs pandas.merge_asof, including
    timestamp ties and empty-side groups."""
    import pandas as pd

    from dask_ml_spark.operators.joins import asof_join

    rng = np.random.RandomState(17)
    left = pd.DataFrame({
        "user": rng.randint(0, 4, 70),
        "t": rng.randint(0, 300, 70).astype("float64"),
        "lv": range(70),
    }).sort_values("t").reset_index(drop=True)
    right = pd.DataFrame({
        "user": rng.randint(0, 4, 50),
        "t": np.concatenate([rng.randint(0, 300, 45),
                             left.t.values[:5]]).astype("float64"),
        "rv": rng.randn(50),
    }).drop_duplicates(["user", "t"]).sort_values("t").reset_index(drop=True)
    for direction in ("forward", "nearest"):
        expect = pd.merge_asof(left, right, on="t", by="user",
                               direction=direction, suffixes=("", "_right"))
        got = (asof_join(spark.createDataFrame(left),
                         spark.createDataFrame(right),
                         on="t", by="user", direction=direction,
                         suffix="_right")
               .toPandas().sort_values(["t", "user", "lv"]).reset_index(drop=True))
        exp = expect.sort_values(["t", "user", "lv"]).reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["rv_right"], exp["rv"].rename("rv_right"),
            check_exact=False), direction


def test_audio_features_real_wav_decode(spark):
    """stub=False decodes PCM WAV via the stdlib: a pure 440 Hz tone's
    energy concentrates in the band containing 440 Hz, and the int16
    roundtrip preserves the samples to quantization accuracy."""
    import pandas as pd

    from dask_ml_spark.datapipe.multimodal import (
        _decode_wav, audio_features, encode_wav)

    rate, dur = 8000, 1.0
    t = np.arange(int(rate * dur)) / rate
    tone = 0.8 * np.sin(2 * np.pi * 440.0 * t)
    blob = encode_wav(tone, rate)
    back, r2 = _decode_wav(blob)
    assert r2 == rate
    np.testing.assert_allclose(back, tone, atol=1.0 / 16384)

    n_mels = 16
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "blob": [bytearray(blob)]}))
    out = audio_features(df, n_mels=n_mels, stub=False).toPandas()
    mel = np.asarray(out.mel.iloc[0])
    assert len(mel) == n_mels
    # rfft bins cover 0..rate/2; 440 Hz falls in band floor(440/(4000/16))
    expect_band = int(440.0 / ((rate / 2) / n_mels))
    assert int(np.argmax(mel)) == expect_band


def test_bigram_logprob_word_order_sensitivity(spark):
    """Hand-computed bigram LM on a tiny corpus; scrambled word order
    scores below natural order while unigram scoring cannot tell them
    apart."""
    import math

    import pandas as pd

    corpus = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["the end of the day",
                 "the end of the road",
                 "end of the line here",
                 "day the of end the"],   # scrambled doc 0
    })
    df = spark.createDataFrame(corpus)
    out = TS.bigram_logprob_scores(df, alpha=0.5).toPandas().set_index("doc_id")
    uni = TS.unigram_logprob_scores(df, alpha=0.5).toPandas().set_index("doc_id")
    # identical unigram bags → identical unigram scores
    assert uni.loc[0, "avg_logprob"] == uni.loc[3, "avg_logprob"]
    # but the scrambled doc's bigrams are corpus-rare → lower score
    assert out.loc[3, "avg_logprob"] < out.loc[0, "avg_logprob"]
    # hand-check doc 0: corpus counts C(the)=7, C(end)=4, C(of)=4,
    # V=7 distinct tokens; bigram counts below
    cab = {("the", "end"): 2, ("end", "of"): 3, ("of", "the"): 3, ("the", "day"): 1}
    ca = {"the": 7, "end": 4, "of": 4}
    expect = sum(
        math.log((cab[g] + 0.5) / (ca[g[0]] + 0.5 * 7))
        for g in [("the", "end"), ("end", "of"), ("of", "the"), ("the", "day")]
    ) / 4
    assert abs(out.loc[0, "avg_logprob"] - round(expect, 6)) < 1e-6


def test_lsh_index_partitioned_write_prunes(spark, embeddings, tmp_path):
    """The LSH index written partitioned by band prunes at scan time:
    a single-band probe's plan reads one partition directory, so a
    100 TB index only scans the probed band."""
    from dask_ml_spark.datapipe.similarity import CosineLSHIndex

    idx = CosineLSHIndex(n_bands=4, bits_per_band=6).fit(embeddings)
    path = str(tmp_path / "lsh_index")
    (idx.index(embeddings).drop("embedding")
     .write.partitionBy("band").parquet(path))
    scan = spark.read.parquet(path).where(F.col("band") == 2)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # partition filter prunes directories: only band=2 files are read
    assert "PartitionFilters" in plan and "band" in plan.split(
        "PartitionFilters", 1)[1][:120]
    bands = {r.band for r in scan.select("band").distinct().collect()}
    assert bands == {2}


def test_interval_join_left_preserves_unmatched(spark):
    """ADVICE r4: how='left' must keep points with NO containing
    interval (null interval columns) — including the tricky case of a
    point whose BUCKET matched but whose BETWEEN failed — and other
    outer modes must raise rather than silently degrade to inner."""
    import pandas as pd
    import pytest as _pytest

    from dask_ml_spark.operators.joins import interval_join

    pts = pd.DataFrame({
        "g": ["a", "a", "a", "b"],
        "p": [5.0, 55.0, 999.0, 5.0],
        "pid": [0, 1, 2, 3],
    })
    # interval [0,10] in bucket 0 (width 100): point p=55 shares
    # bucket 0 but fails containment -> must survive with nulls
    iv = pd.DataFrame({"g": ["a"], "s": [0.0], "e": [10.0], "iid": [7]})
    got = interval_join(
        spark.createDataFrame(pts), spark.createDataFrame(iv),
        point_col="p", start_col="s", end_col="e", by="g",
        bucket_width=100.0, how="left").toPandas().sort_values("pid")
    assert list(got.pid) == [0, 1, 2, 3]
    matched = got[got.pid == 0]
    assert list(matched.iid) == [7]
    unmatched = got[got.pid != 0]
    assert unmatched.iid.isna().all() and unmatched.s.isna().all()

    inner = interval_join(
        spark.createDataFrame(pts), spark.createDataFrame(iv),
        point_col="p", start_col="s", end_col="e", by="g",
        bucket_width=100.0, how="inner").toPandas()
    assert list(inner.pid) == [0]

    with _pytest.raises(ValueError, match="inner.*left"):
        interval_join(spark.createDataFrame(pts), spark.createDataFrame(iv),
                      point_col="p", start_col="s", end_col="e", by="g",
                      how="right")


def test_grouped_prefix_sum_matches_pandas(spark):
    """Grouped two-phase prefix sum == per-group pandas cumsum, across
    repartitionings (content-deterministic), including a null group."""
    import pandas as pd

    from dask_ml_spark.datapipe.packing import prefix_sum

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({
        "k": rng.permutation(400),
        "g": [["web", "books", None][i % 3] for i in range(400)],
        "v": rng.randint(1, 50, 400).astype("float64"),
    })
    expect = pdf.sort_values("k").copy()
    expect["run"] = (expect.groupby("g", dropna=False)["v"].cumsum()
                     - expect["v"])
    for nparts in (1, 7):
        got = (prefix_sum(spark.createDataFrame(pdf).repartition(nparts),
                          "k", "v", "run", group_col="g")
               .toPandas().sort_values("k"))
        pd.testing.assert_series_equal(
            got.set_index("k")["run"], expect.set_index("k")["run"])


def test_token_quota_skewed_source_spans_multiple_tasks(spark):
    """The skew contract: a source holding 90% of rows must NOT
    serialize into one task — range partitioning on (source, id)
    splits it across multiple partitions, unlike
    Window.partitionBy(source) which pins it to one."""
    import pandas as pd
    from pyspark.sql import functions as F

    from dask_ml_spark.datapipe.sampling import token_quota

    n = 4000
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "source": ["hot" if i % 10 else "cold" for i in range(n)],
        "text": ["alpha beta gamma delta"] * n,
    })
    df = spark.createDataFrame(pdf).repartition(8)
    out = token_quota(df, quota=10**9)
    parts_for_hot = (out.where(F.col("source") == "hot")
                     .select(F.spark_partition_id().alias("pid"))
                     .distinct().count())
    assert parts_for_hot > 1
    # and the quota semantics still hold under the distributed cumsum
    small = token_quota(df, quota=40)  # 4 tokens/doc -> 10 docs/source
    got = small.toPandas()
    per_src = got.groupby("source").size()
    assert per_src["hot"] == 10 and per_src["cold"] == 10
    assert (got.groupby("source")["n_tokens"].sum() <= 40).all()
    # prefix rule: kept docs are exactly each source's id-prefix
    for s, grp in got.groupby("source"):
        all_ids = pdf[pdf.source == s].doc_id.sort_values()
        assert sorted(grp.doc_id) == list(all_ids.head(len(grp)))


def test_token_quota_plan_has_no_window(spark, documents):
    """Regression pin: the batch token_quota must not compile to a
    hash-partitioned Window (the skew hazard the grouped prefix sum
    replaces)."""
    from dask_ml_spark.datapipe.sampling import token_quota

    plan = token_quota(documents, quota=5_000)._jdf.queryExecution(
        ).explainString(spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted"))
    assert "Window" not in plan


def test_asof_join_keyless_matches_pandas_and_parallelizes(spark):
    """by=None path: quantile-bucketed carry must equal
    pandas.merge_asof for all three directions, and the big-side carry
    window must partition by bucket — not a global single-partition
    window (the r4 scale hazard)."""
    import pandas as pd

    from dask_ml_spark.operators.joins import asof_join

    rng = np.random.RandomState(13)
    left = pd.DataFrame({
        "t": np.sort(rng.uniform(0, 1000, 300)),
        "lv": rng.randn(300),
    })
    right = pd.DataFrame({
        "t": np.sort(rng.choice(np.arange(0, 1000, 0.5), 200, replace=False)),
        "rv": rng.randn(200),
    })
    # force boundary-tie coverage: duplicate some left times into right
    right.loc[:10, "t"] = left["t"].iloc[5:16].to_numpy()
    right = right.sort_values("t").reset_index(drop=True)
    for direction in ("backward", "forward", "nearest"):
        expect = pd.merge_asof(left, right, on="t", direction=direction,
                               suffixes=("", "_right"))
        sdf = asof_join(spark.createDataFrame(left),
                        spark.createDataFrame(right),
                        on="t", by=None, suffix="_right",
                        direction=direction)
        got = sdf.toPandas().sort_values("t").reset_index(drop=True)
        exp = expect.sort_values("t").reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["rv_right"], exp["rv"].rename("rv_right"),
            check_exact=False)

    plan = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="t", by=None)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "hashpartitioning(__bucket" in plan
    # the only SinglePartition exchanges feed the <=#buckets-row carry
    # table; the data-bearing window is bucket-partitioned
    assert plan.count("Exchange SinglePartition") <= 2


def test_ann_indexes_auto_geometry(spark, embeddings):
    """'auto' sizing: IVF lists ~ sqrt(N), LSH bits ~ log2(N/32) —
    per-probe cost stays bounded as the corpus grows — and both
    indexes still return correct top-1 self-matches."""
    from dask_ml_spark.datapipe.similarity import CosineLSHIndex, IVFIndex

    n = embeddings.count()
    ivf = IVFIndex(n_lists="auto", seed=1).fit(embeddings)
    assert ivf.n_lists == "auto"  # param survives for refit/clone
    assert ivf.n_lists_ == max(16, int(n ** 0.5))
    lsh = CosineLSHIndex(bits_per_band="auto", seed=1).fit(embeddings)
    import math
    assert lsh.bits_per_band == "auto"
    assert lsh.bits_per_band_ == max(10, math.ceil(math.log2(max(n, 2) / 32)))
    q = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = lsh.search(embeddings, q, k=1).toPandas()
    # with auto bits each query still collides with near neighbors
    assert len(got) >= 1 and (got.score <= 1.0 + 1e-9).all()


def test_asof_join_keyless_timestamp_ntz(spark):
    """Regression: keyless asof (and tolerance) on a TIMESTAMP_NTZ
    column — NTZ cannot cast straight to double; the bucket/tolerance
    arithmetic must route through a timestamp cast."""
    import pandas as pd

    left = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(
            ["2024-01-01 00:00:05", "2024-01-01 00:01:40"]),
            "lv": [1.0, 2.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"ts": pd.to_datetime(
            ["2024-01-01 00:00:00", "2024-01-01 00:01:00"]),
            "rv": [10.0, 20.0]}))
    from dask_ml_spark.operators.joins import asof_join

    got = (asof_join(left, right, on="ts", by=None, tolerance=60.0)
           .orderBy("ts").toPandas())
    assert list(got.rv_right) == [10.0, 20.0]  # gaps 5s and 40s
    tight = (asof_join(left, right, on="ts", by=None, tolerance=10.0)
             .orderBy("ts").toPandas())
    assert tight.rv_right.iloc[0] == 10.0
    assert pd.isna(tight.rv_right.iloc[1])  # 40s gap > 10s tolerance


def test_grouped_prefix_sum_property(spark):
    """Property sweep (seeded, multiple shapes): grouped prefix sum ==
    pandas per-group cumsum for random group counts, duplicate order
    keys resolved deterministically by value sums, and extreme skew
    (one group = 95% of rows)."""
    import pandas as pd

    from dask_ml_spark.datapipe.packing import prefix_sum

    rng = np.random.RandomState(5)
    for trial, (n, n_groups, skew) in enumerate(
            [(50, 1, False), (300, 7, False), (500, 2, True), (40, 40, False)]):
        if skew:
            g = np.where(rng.rand(n) < 0.95, "hot", "cold")
        else:
            g = np.array([f"g{i}" for i in rng.randint(0, n_groups, n)])
        pdf = pd.DataFrame({
            "k": rng.permutation(n),
            "g": g,
            "v": rng.randint(0, 100, n).astype("float64"),
        })
        got = (prefix_sum(spark.createDataFrame(pdf).repartition(5),
                          "k", "v", "run", group_col="g")
               .toPandas().sort_values("k").reset_index(drop=True))
        exp = pdf.sort_values("k").reset_index(drop=True)
        exp["run"] = exp.groupby("g")["v"].cumsum() - exp["v"]
        pd.testing.assert_series_equal(got["run"], exp["run"],
                                       check_exact=True)


def test_pack_sequences_invariants(spark, documents):
    """Sequence chunking: per-doc slices concatenate to the whole
    document; every sequence except the last holds exactly seq_len
    tokens; boundaries are content-deterministic under repartition."""
    from dask_ml_spark.datapipe.packing import pack_sequences

    L = 128
    out = pack_sequences(documents, seq_len=L).toPandas()
    assert (out.tok_start < out.tok_end).all()
    # per-sequence token mass == L except the final sequence
    per_seq = (out.assign(n=out.tok_end - out.tok_start)
               .groupby("seq_id")["n"].sum().sort_index())
    assert (per_seq.iloc[:-1] == L).all()
    assert 0 < per_seq.iloc[-1] <= L
    # per-doc slices cover [0, n_tokens) contiguously
    from dask_ml_spark.datapipe.dedup import tokens_expr
    n_tok = {r.doc_id: r.n for r in documents.select(
        "doc_id", F.size(tokens_expr(F.col("text"))).alias("n")).collect()}
    for did, g in out.groupby("doc_id"):
        g = g.sort_values("seq_id")
        assert g.tok_start.iloc[0] == 0
        assert g.tok_end.iloc[-1] == n_tok[did]
        assert (g.tok_start.iloc[1:].to_numpy()
                == g.tok_end.iloc[:-1].to_numpy()).all()
    again = pack_sequences(documents.repartition(7), seq_len=L).toPandas()
    a = out.sort_values(["doc_id", "seq_id"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "seq_id"]).reset_index(drop=True)
    assert a.equals(b)


def test_temperature_mixture_rebalances(spark, documents):
    """alpha<1 upweights rare domains: the kept-token share of the
    smallest source must EXCEED its natural share, and alpha=1
    reproduces natural proportions (capped at keep-everything);
    selection is content-deterministic under repartition."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.datapipe.sampling import temperature_mixture

    tot = (documents
           .withColumn("n", F.size(tokens_expr(F.col("text"))))
           .groupBy("source").agg(F.sum("n").alias("tot"))
           .toPandas().set_index("source")["tot"])
    budget = int(tot.sum() * 0.3)
    kept = (temperature_mixture(documents, budget, alpha=0.3)
            .groupBy("source").agg(F.sum("n_tokens").alias("k"))
            .toPandas().set_index("source")["k"])
    smallest, largest = tot.idxmin(), tot.idxmax()
    nat_small = tot[smallest] / tot.sum()
    kept_small = kept.get(smallest, 0) / kept.sum()
    assert kept_small > nat_small  # rare domain upweighted
    # largest source must be downsampled hardest
    assert kept[largest] / tot[largest] < kept.get(smallest, 0) / tot[smallest]
    again = (temperature_mixture(documents.repartition(9), budget, alpha=0.3)
             .groupBy("source").agg(F.sum("n_tokens").alias("k"))
             .toPandas().set_index("source")["k"])
    assert kept.sort_index().equals(again.sort_index())


def test_plan_epochs_semantics(spark, documents):
    """Epoch planner: targets sum to the budget; rare sources plan
    >1 epoch (capped), over-represented ones plan rate<1 with
    epochs == rate; rate == min(1, epochs)."""
    from dask_ml_spark.datapipe.sampling import plan_epochs

    budget = int(documents.count()) * 60  # ~1 epoch on average
    plan = plan_epochs(documents, token_budget=budget, alpha=0.5,
                       max_epochs=4.0).toPandas()
    assert abs(plan.target_tokens.sum() - budget) < 1.0
    assert (plan.epochs <= 4.0 + 1e-9).all()
    assert np.allclose(plan.rate, np.minimum(1.0, plan.epochs), atol=1e-6)
    small = plan.loc[plan.tot_tokens.idxmin()]
    big = plan.loc[plan.tot_tokens.idxmax()]
    assert small.epochs > big.epochs  # rare source repeats more
    # alpha=1 -> everyone gets the same epoch multiple (natural mix)
    nat = plan_epochs(documents, token_budget=budget, alpha=1.0).toPandas()
    assert nat.epochs.std() < 1e-6


def test_interval_join_left_null_payload_no_duplicates(spark):
    """Code-review regression: a matched point row with a NULL payload
    column must appear exactly once in how='left' output (the anti-join
    must be null-safe)."""
    import pandas as pd

    from dask_ml_spark.operators.joins import interval_join

    pts = spark.createDataFrame(pd.DataFrame({
        "g": ["a", "a"],
        "p": [5.0, 500.0],
        "note": pd.array([None, "x"], dtype="string"),
    }))
    iv = spark.createDataFrame(pd.DataFrame(
        {"g": ["a"], "s": [0.0], "e": [10.0], "iid": [1]}))
    got = interval_join(pts, iv, point_col="p", start_col="s", end_col="e",
                        by="g", bucket_width=100.0, how="left").toPandas()
    assert len(got) == 2  # matched row once, unmatched row once
    matched = got[got.p == 5.0]
    assert len(matched) == 1 and matched.iid.iloc[0] == 1
    assert got[got.p == 500.0].iid.isna().all()


def test_pack_sequences_token_count_col_parity(spark, documents):
    """The precomputed-count fast path must chunk identically to the
    recompute path."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.datapipe.packing import pack_sequences

    withn = documents.withColumn(
        "n_tokens", F.size(tokens_expr(F.col("text"))))
    a = (pack_sequences(documents, seq_len=96)
         .toPandas().sort_values(["doc_id", "seq_id"]).reset_index(drop=True))
    b = (pack_sequences(withn, seq_len=96, token_count_col="n_tokens")
         .toPandas().sort_values(["doc_id", "seq_id"]).reset_index(drop=True))
    assert a.equals(b)


def test_remove_boilerplate_drops_all_occurrences(spark):
    from dask_ml_spark.datapipe.dedup import remove_boilerplate

    df = spark.createDataFrame(
        [(1, "COOKIE BANNER\nunique alpha\nfooter"),
         (2, "COOKIE BANNER\nunique beta\nfooter"),
         (3, "unique gamma\nfooter"),
         (4, "only original text here")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           remove_boilerplate(df, min_docs=2).collect()}
    # banner occurs in 2 docs, footer in 3 -> both dropped everywhere
    # (unlike paragraph_dedup, which would keep the first occurrence)
    assert out[1]["text"] == "unique alpha"
    assert out[2]["text"] == "unique beta"
    assert out[3]["text"] == "unique gamma"
    assert out[4]["text"] == "only original text here"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 1
    assert out[4]["n_lines"] == 1 and out[4]["n_kept"] == 1


def test_remove_boilerplate_short_lines_protected(spark):
    from dask_ml_spark.datapipe.dedup import remove_boilerplate

    # blank/short lines repeat everywhere but are structure, not
    # boilerplate: min_chars shields them from the frequency rule
    df = spark.createDataFrame(
        [(1, "a\n\nkeep one"), (2, "a\n\nkeep two"), (3, "a\n\nkeep three")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["text"] for r in
           remove_boilerplate(df, min_docs=2, min_chars=2).collect()}
    assert out[1] == "a\n\nkeep one"


def test_shuffle_shards_deterministic_and_balanced(spark, documents):
    from dask_ml_spark.datapipe.sampling import shuffle_shards

    a = shuffle_shards(documents, n_shards=8, seed=7)
    b = shuffle_shards(documents.repartition(13), n_shards=8, seed=7)
    rows_a = sorted((r["doc_id"], r["shard"], r["shuffle_key"])
                    for r in a.select("doc_id", "shard", "shuffle_key").collect())
    rows_b = sorted((r["doc_id"], r["shard"], r["shuffle_key"])
                    for r in b.select("doc_id", "shard", "shuffle_key").collect())
    assert rows_a == rows_b  # partitioning-independent
    sizes = [r["n"] for r in a.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    n = sum(sizes)
    assert len(sizes) == 8 and max(sizes) < n  # spread across shards
    # a different seed gives a different permutation
    c = shuffle_shards(documents, n_shards=8, seed=8)
    keys_c = sorted((r["doc_id"], r["shuffle_key"])
                    for r in c.select("doc_id", "shuffle_key").collect())
    assert keys_c != [(d, k) for d, _, k in rows_a]


def test_normalize_text_nfc_and_whitespace(spark):
    from dask_ml_spark.datapipe.text_stats import normalize_text

    df = spark.createDataFrame(
        [(1, "café   double\tspace\x00ctl")], ["doc_id", "text"])
    row = normalize_text(df).collect()[0]
    assert row["text"] == "café double spacectl"
    # form=None stays entirely JVM-side (no BatchEvalPython/ArrowEval)
    plan = normalize_text(df, form=None)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_outlink_blocklist_filters_docs(spark):
    from dask_ml_spark.datapipe.text_stats import (filter_blocked_domains,
                                                   outlink_domains)

    df = spark.createDataFrame(
        [(1, "see https://Bad.example.com/x and https://ok.net/y"),
         (2, "only https://ok.net/z"),
         (3, "no links at all")],
        ["doc_id", "text"])
    links = {(r["doc_id"], r["domain"]) for r in outlink_domains(df).collect()}
    assert (1, "bad.example.com") in links and (2, "ok.net") in links
    block = spark.createDataFrame([("bad.example.com",)], ["domain"])
    kept = sorted(r["doc_id"] for r in
                  filter_blocked_domains(df, block).collect())
    assert kept == [2, 3]


def test_remove_boilerplate_metachar_separator(spark):
    from dask_ml_spark.datapipe.dedup import remove_boilerplate

    # '|' is a regex metachar: the split must treat it literally
    df = spark.createDataFrame(
        [(1, "common|unique a"), (2, "common|unique b"), (3, "unique c")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           remove_boilerplate(df, sep="|", min_docs=2).collect()}
    assert out[1]["text"] == "unique a" and out[1]["n_lines"] == 2
    assert out[3]["text"] == "unique c"


def test_shuffle_shards_null_key_propagates(spark):
    from dask_ml_spark.datapipe.sampling import shuffle_shards

    df = spark.createDataFrame([(1,), (None,), (None,)], "doc_id int")
    rows = shuffle_shards(df, n_shards=4).collect()
    nulls = [r for r in rows if r["doc_id"] is None]
    # null keys do NOT collapse onto one shared shard/key (concat_ws
    # would); they propagate to null like the SQL rendering
    assert all(r["shuffle_key"] is None and r["shard"] is None for r in nulls)


def test_outlink_userinfo_cannot_evade_blocklist(spark):
    from dask_ml_spark.datapipe.text_stats import (filter_blocked_domains,
                                                   outlink_domains)

    df = spark.createDataFrame(
        [(1, "link https://user:pw@blocked.example.com/x"),
         (2, "link https://blocked.example.com./y"),
         (3, "link https://fine.org/z")],
        ["doc_id", "text"])
    doms = {r["doc_id"]: r["domain"] for r in outlink_domains(df).collect()}
    assert doms[1] == "blocked.example.com"  # userinfo consumed
    assert doms[2] == "blocked.example.com"  # no trailing-dot variant
    block = spark.createDataFrame([("blocked.example.com",)], ["domain"])
    kept = sorted(r["doc_id"] for r in filter_blocked_domains(df, block).collect())
    assert kept == [3]


def test_normalize_text_nfkc_whitespace_order(spark):
    from dask_ml_spark.datapipe.text_stats import normalize_text

    # NFKC maps NBSP -> U+0020; the collapse must run AFTER the
    # unicode pass or these runs survive
    df = spark.createDataFrame([(1, "a  b")], ["doc_id", "text"])
    row = normalize_text(df, form="NFKC").collect()[0]
    assert row["text"] == "a b"


def test_quality_classifier_separates_and_scores_narrow(spark):
    from dask_ml_spark.datapipe.quality_model import (score_quality,
                                                      train_quality_classifier)

    good = [(i, "the quick brown fox jumps over the lazy dog and runs far "
                "into the wide green hills with many fine words to say " * 2)
            for i in range(20)]
    bad = [(100 + i, f"00 11 22 33 44 {i}5 66") for i in range(20)]
    docs = spark.createDataFrame(good + bad, ["doc_id", "text"])
    nb = train_quality_classifier(docs)
    scored = score_quality(docs, nb)
    rows = {r["doc_id"]: r["quality_logit"] for r in scored.collect()}
    assert all(rows[i] > 0 for i, _ in good)
    assert all(rows[i] < 0 for i, _ in bad)
    # scoring is a literal-folded narrow projection: no shuffle, no UDF
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_corpus_manifest_order_insensitive(spark, documents):
    from dask_ml_spark.datapipe.profiling import corpus_manifest

    a = {r["source"]: r for r in corpus_manifest(documents).collect()}
    b = {r["source"]: r for r in
         corpus_manifest(documents.repartition(11)).collect()}
    assert set(a) == set(b)
    for s in a:
        # xor checksum commutes: identical under any partitioning/order
        assert a[s]["content_checksum"] == b[s]["content_checksum"]
        assert a[s]["n_docs"] == b[s]["n_docs"]
    # a content change flips the checksum
    from pyspark.sql import functions as F
    tampered = documents.withColumn(
        "text", F.when(F.col("doc_id") == 0, F.lit("tampered"))
        .otherwise(F.col("text")))
    c = {r["source"]: r["content_checksum"]
         for r in corpus_manifest(tampered).collect()}
    changed = [s for s in a if c[s] != a[s]["content_checksum"]]
    assert len(changed) == 1


def test_remove_boilerplate_properties(spark):
    """Property sweep: reassembled output equals the input's line
    sequence with exactly the >=min_docs lines removed, for random
    corpora."""
    import random

    from dask_ml_spark.datapipe.dedup import remove_boilerplate

    rng = random.Random(7)
    vocab = [f"line_{i}" for i in range(12)]
    docs = []
    for d in range(30):
        lines = [rng.choice(vocab) for _ in range(rng.randint(1, 8))]
        docs.append((d, "\n".join(lines)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    min_docs = 5
    out = {r["doc_id"]: r for r in
           remove_boilerplate(df, min_docs=min_docs).collect()}

    # python reference
    from collections import defaultdict
    docs_of = defaultdict(set)
    for d, t in docs:
        for ln in t.split("\n"):
            docs_of[ln].add(d)
    boiler = {ln for ln, ds in docs_of.items() if len(ds) >= min_docs}
    for d, t in docs:
        lines = t.split("\n")
        kept = [ln for ln in lines if ln not in boiler]
        assert out[d]["text"] == "\n".join(kept)
        assert out[d]["n_lines"] == len(lines)
        assert out[d]["n_kept"] == len(kept)


def test_remove_repeated_spans_cases(spark):
    """Cross-doc span copy, within-doc repetition, sub-span docs, and
    zero-token docs — all against a pure-python reference."""
    import re

    from dask_ml_spark.datapipe.dedup import TOKEN_RE, remove_repeated_spans

    docs = [
        (1, "Alpha beta gamma delta epsilon zeta unique one here now"),
        (2, "prefix words alpha beta gamma delta epsilon zeta suffix tail"),
        (3, "totally different content with no repeats at all whatsoever"),
        (4, "loop loop loop loop loop loop loop loop loop loop"),
        (5, "short doc"),
        (6, "!!! ... ---"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           remove_repeated_spans(df, span_tokens=5).collect()}

    def toks(s):
        return re.findall(TOKEN_RE, s.lower())

    wins = {}
    for i, txt in docs:
        tt = toks(txt)
        for p in range(len(tt) - 4):
            wins.setdefault(tuple(tt[p:p + 5]), []).append((i, p))
    cov = {}
    for w, occ in wins.items():
        if len(occ) >= 2:
            for (i, p) in sorted(occ)[1:]:
                for k in range(p, p + 5):
                    cov.setdefault(i, set()).add(k)
    for i, txt in docs:
        tt = toks(txt)
        kept = [t for k, t in enumerate(tt) if k not in cov.get(i, set())]
        assert out[i]["text"] == " ".join(kept)
        assert out[i]["n_tokens"] == len(tt)
        assert out[i]["n_kept"] == len(kept)
    # the first occurrence survives verbatim
    assert out[1]["n_kept"] == out[1]["n_tokens"]
    # within-doc run collapses to its first window's worth of coverage
    assert out[4]["text"] == "loop"


def test_remove_repeated_spans_remove_all(spark):
    """keep_first=False removes EVERY copy (the boilerplate rule)."""
    from dask_ml_spark.datapipe.dedup import remove_repeated_spans

    docs = [(1, "one two three four five tail_a"),
            (2, "head_b one two three four five")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r["text"] for r in
           remove_repeated_spans(df, span_tokens=5,
                                 keep_first=False).collect()}
    assert out[1] == "tail_a"
    assert out[2] == "head_b"


def test_remove_repeated_spans_properties(spark):
    """Property sweep vs a python reference over random corpora with
    heavy window collisions (tiny vocab)."""
    import random
    import re

    from dask_ml_spark.datapipe.dedup import TOKEN_RE, remove_repeated_spans

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(6)]
    n = 3
    docs = [(d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 12))))
            for d in range(25)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           remove_repeated_spans(df, span_tokens=n).collect()}

    def toks(s):
        return re.findall(TOKEN_RE, s.lower())

    wins = {}
    for i, txt in docs:
        tt = toks(txt)
        for p in range(len(tt) - n + 1):
            wins.setdefault(tuple(tt[p:p + n]), []).append((i, p))
    cov = {}
    for w, occ in wins.items():
        if len(occ) >= 2:
            for (i, p) in sorted(occ)[1:]:
                for k in range(p, p + n):
                    cov.setdefault(i, set()).add(k)
    assert set(out) == {d for d, _ in docs}
    for i, txt in docs:
        tt = toks(txt)
        kept = [t for k, t in enumerate(tt) if k not in cov.get(i, set())]
        assert out[i]["text"] == " ".join(kept), f"doc {i}"
        assert out[i]["n_tokens"] == len(tt)
        assert out[i]["n_kept"] == len(kept)


def test_chunk_documents_cases(spark):
    """Overlap, exact-fit, sub-chunk docs, the no-redundant-tail rule,
    and zero-token docs — against a python reference."""
    import re

    from dask_ml_spark.datapipe.dedup import TOKEN_RE
    from dask_ml_spark.datapipe.packing import chunk_documents

    def words(n, p):
        return " ".join(f"{p}{i}" for i in range(n))

    docs = [
        (1, words(10, "aa")),   # 10 toks, chunk 4 stride 3
        (2, words(4, "bb")),    # exact fit -> 1 chunk
        (3, words(3, "cc")),    # sub-chunk -> 1 chunk
        (4, words(5, "dd")),    # tail chunk shorter than overlap
        (5, "!!! ..."),         # zero tokens -> no chunks
        (6, words(7, "ee")),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    chunk_n, stride = 4, 3
    out = chunk_documents(df, chunk_tokens=chunk_n, stride=stride)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
            r["text"], r["n_tokens"])

    import math
    for i, txt in docs:
        tt = re.findall(TOKEN_RE, txt.lower())
        if not tt:
            assert i not in got
            continue
        n_chunks = 1 + max(0, math.ceil((len(tt) - chunk_n) / stride))
        assert set(got[i]) == set(range(n_chunks)), (i, got[i])
        for c in range(n_chunks):
            want = tt[c * stride:c * stride + chunk_n]
            assert got[i][c] == (" ".join(want), len(want)), (i, c)
    # plan is pure-narrow: no exchange anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_documents_disjoint_default(spark):
    """Default stride = chunk_tokens: chunks partition the token
    stream exactly (concatenation round-trips the document)."""
    from dask_ml_spark.datapipe.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(257)))], ["doc_id", "text"])
    rows = sorted(chunk_documents(df, chunk_tokens=128).collect(),
                  key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in rows] == [128, 128, 1]
    joined = " ".join(r["text"] for r in rows)
    assert joined == " ".join(f"tok{i}" for i in range(257))


def test_quality_classifier_tolerates_null_text(spark):
    from dask_ml_spark.datapipe.quality_model import (score_quality,
                                                      train_quality_classifier)

    good = [(i, "the quick brown fox and the lazy dog run far " * 5)
            for i in range(10)]
    bad = [(50 + i, "00 11 22") for i in range(10)]
    docs = spark.createDataFrame(good + bad + [(99, None)],
                                 "doc_id int, text string")
    nb = train_quality_classifier(docs)
    # null text never becomes a third label class
    assert sorted(nb.classes_.tolist()) == [0, 1]
    scored = score_quality(docs, nb)
    assert scored.where(F.col("doc_id") < 99).count() == 20


def test_corpus_manifest_null_text_propagates(spark):
    from dask_ml_spark.datapipe.profiling import corpus_manifest

    df = spark.createDataFrame(
        [(1, "a", "s"), (2, None, "s"), (3, "b", "s")],
        ["doc_id", "text", "source"])
    base = spark.createDataFrame(
        [(1, "a", "s"), (3, "b", "s")], ["doc_id", "text", "source"])
    m_with_null = corpus_manifest(df).collect()[0]
    m_without = corpus_manifest(base).collect()[0]
    # the null row's hash is null -> skipped by bit_xor, so the
    # checksum equals the non-null corpus (and a (1,NULL)/(NULL,'1')
    # pair can no longer cancel); counts still see all rows
    assert m_with_null["content_checksum"] == m_without["content_checksum"]
    assert m_with_null["n_docs"] == 3


def test_corpus_diff_copy_semantics(spark):
    from dask_ml_spark.datapipe.profiling import corpus_diff

    # old: 3 copies of X, 1 Y; new: 1 copy of X, 1 Y, 1 Z
    old = spark.createDataFrame(
        [(1, "X", "s"), (2, "X", "s"), (3, "X", "s"), (4, "Y", "s")],
        ["doc_id", "text", "source"])
    new = spark.createDataFrame(
        [(10, "X", "s"), (11, "Y", "s"), (12, "Z", "s")],
        ["doc_id", "text", "source"])
    r = corpus_diff(old, new).collect()[0]
    # duplicate content must not fan out the join: 2 X copies removed,
    # 1 Z added, X+Y retained (ids are irrelevant — content compare)
    assert (r["added"], r["removed"], r["retained"]) == (1, 2, 2)


def test_pq_index_recall_and_narrow_encode(spark, embeddings):
    from dask_ml_spark.datapipe.similarity import PQIndex, brute_force_topk

    pq = PQIndex(m=4, k=16).fit(embeddings)
    assert len(pq.codebooks_) == 4 and pq.codebooks_[0].shape == (16, 16)

    # encode is a narrow JVM projection — no Python; the only Exchange
    # permitted is the deliberate round-robin spread of an under-split
    # input (a no-op on real multi-split corpora)
    coded = pq.encode(embeddings)
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert plan.count("Exchange") <= 1 and "RoundRobinPartitioning" in plan
    row = coded.limit(1).collect()[0]
    assert len(row["pq_code"]) == 4
    assert all(0 <= c < 16 for c in row["pq_code"])

    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = pq.search(embeddings, queries, topk=10)
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}

    # ground truth #1: an independent pure-numpy ADC over the same
    # codebooks must produce the IDENTICAL top-10 sets (implementation
    # parity — the recall of PQ itself is a property of the data; this
    # corpus's iid vectors concentrate distances, so overlap with the
    # exact euclidean top-10 is inherently low at 4x16 codebooks)
    import numpy as np

    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["embedding"]) for r in rows], dtype="float64")
    m, sub = 4, 16
    codes = np.stack([
        ((X[:, None, s * sub:(s + 1) * sub]
          - np.asarray(pq.codebooks_[s])[None]) ** 2).sum(2).argmin(1)
        for s in range(m)], axis=1)
    ref = set()
    for qid in range(3):
        q = X[ids == qid][0]
        adc = np.zeros(len(X))
        for s in range(m):
            t = ((np.asarray(pq.codebooks_[s])
                  - q[s * sub:(s + 1) * sub]) ** 2).sum(1)
            adc += t[codes[:, s]]
        mask = ids != qid
        # same deterministic tiebreak as the operator: score, then id
        order = sorted(zip(adc[mask], ids[mask]))[:10]
        ref |= {(qid, int(i)) for _, i in order}
    assert g == ref

    # ground truth #2: still far better than random chance vs the exact
    # euclidean top-10 (random overlap ~ 10/500 = 2% per query)
    e = set()
    for qid in range(3):
        q = X[ids == qid][0]
        d = ((X - q) ** 2).sum(axis=1)
        order = [i for i in np.argsort(d, kind="stable") if ids[i] != qid]
        e |= {(qid, int(ids[i])) for i in order[:10]}
    assert len(g & e) >= 3  # >= 10% overall, ~5x random


def test_pq_search_deterministic_across_partitioning(spark, embeddings):
    from dask_ml_spark.datapipe.similarity import PQIndex

    pq = PQIndex(m=4, k=16).fit(embeddings)
    q = embeddings.where(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding")
    a = [(r["query_id"], r["vec_id"], r["rank"])
         for r in pq.search(embeddings, q).orderBy("rank").collect()]
    b = [(r["query_id"], r["vec_id"], r["rank"])
         for r in pq.search(embeddings.repartition(9), q).orderBy("rank").collect()]
    assert a == b


def test_pagerank_properties(spark):
    from dask_ml_spark.datapipe.graph import pagerank

    # known asymmetric graph with a dangling node D:
    # A -> B, A -> C, B -> C, C -> A, D has no out-edges but is linked
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "d")],
        ["src", "dst"])
    ranks = {r["node"]: r["rank"]
             for r in pagerank(edges, iters=20, damping=0.85).collect()}
    # total mass conserved (dangling redistribution keeps Σ = 1)
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # c receives from a AND b -> highest-ranked of the cycle
    assert ranks["c"] > ranks["b"]
    assert ranks["a"] > ranks["d"]
    # python reference fixpoint for the same formula
    import numpy as np
    nodes = ["a", "b", "c", "d"]
    out = {"a": 3, "b": 1, "c": 1}
    links = {("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "d")}
    r = {x: 0.25 for x in nodes}
    for _ in range(20):
        dm = sum(r[x] for x in nodes if x not in out)
        nr = {}
        for y in nodes:
            c = sum(r[x] / out[x] for x in nodes if (x, y) in links)
            nr[y] = 0.15 / 4 + 0.85 * (c + dm / 4)
        r = nr
    for x in nodes:
        assert abs(ranks[x] - r[x]) < 1e-9


def test_smooth_scores_matches_numpy_reference(spark):
    from dask_ml_spark.datapipe.graph import smooth_scores

    # d has no out-edges (keeps its own score every round); a has two
    # neighbors so the mean matters; alpha and iters both non-trivial
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")],
        ["src", "dst"])
    scores = spark.createDataFrame(
        [("a", 1.0), ("b", 10.0), ("c", 4.0), ("d", 0.0)],
        ["doc_id", "score"])
    got = {r["doc_id"]: r["score"]
           for r in smooth_scores(edges, scores, alpha=0.3,
                                  iters=3).collect()}
    ref = {"a": 1.0, "b": 10.0, "c": 4.0, "d": 0.0}
    nbrs = {"a": ["b", "c"], "b": ["c"], "c": ["a", "d"]}
    for _ in range(3):
        ref = {v: (0.7 * s + 0.3 * sum(ref[u] for u in nbrs[v])
                   / len(nbrs[v])) if v in nbrs else s
               for v, s in ref.items()}
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12
    # iters=0 is the identity
    same = {r["doc_id"]: r["score"]
            for r in smooth_scores(edges, scores, iters=0).collect()}
    assert same == {"a": 1.0, "b": 10.0, "c": 4.0, "d": 0.0}


def test_ivfpq_matches_numpy_reference(spark, embeddings):
    import numpy as np

    from dask_ml_spark.datapipe.similarity import IVFPQIndex

    idx = IVFPQIndex(n_lists=8, m=4, k=16, n_probe=2).fit(embeddings)
    got = idx.search(embeddings,
                     embeddings.where(F.col("vec_id") < 3).select(
                         F.col("vec_id").alias("query_id"), "embedding"),
                     topk=10)
    g = {(r["query_id"], r["vec_id"], r["rank"]) for r in got.collect()}

    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["embedding"]) for r in rows], dtype="float64")
    C = idx.centroids_
    buckets = ((X[:, None, :] - C[None]) ** 2).sum(2).argmin(1)
    resid = X - C[buckets]
    sub = 16
    codes = np.stack([
        ((resid[:, None, s * sub:(s + 1) * sub]
          - np.asarray(idx.codebooks_[s])[None]) ** 2).sum(2).argmin(1)
        for s in range(4)], axis=1)
    ref = set()
    for qid in range(3):
        q = X[ids == qid][0]
        probes = np.argsort(((C - q[None]) ** 2).sum(1), kind="stable")[:2]
        cand = []
        for lst in probes:
            qr = q - C[lst]
            tables = [((np.asarray(idx.codebooks_[s])
                        - qr[s * sub:(s + 1) * sub]) ** 2).sum(1)
                      for s in range(4)]
            for i in np.where(buckets == lst)[0]:
                if ids[i] == qid:
                    continue
                cand.append((sum(tables[s][codes[i, s]] for s in range(4)),
                             int(ids[i])))
        for rank, (_, vid) in enumerate(sorted(cand)[:10], 1):
            ref.add((qid, vid, rank))
    assert g == ref


def test_distribution_drift(spark):
    import numpy as np
    from dask_ml_spark.datapipe.profiling import distribution_drift, histogram

    rng = np.random.RandomState(9)
    a = spark.createDataFrame([(float(v),) for v in rng.uniform(0, 1, 2000)],
                              ["x"])
    b_same = spark.createDataFrame(
        [(float(v),) for v in rng.uniform(0, 1, 2000)], ["x"])
    b_shift = spark.createDataFrame(
        [(float(v),) for v in rng.uniform(0.5, 1.5, 2000)], ["x"])
    same = distribution_drift(a, b_same, "x", bins=10, lo=0.0, hi=1.0)
    shift = distribution_drift(a, b_shift, "x", bins=10, lo=0.0, hi=1.0)
    # identical distributions: negligible drift; shifted: large
    assert same["psi"] < 0.05 and shift["psi"] > 1.0
    assert same["tvd"] < 0.05 and shift["tvd"] > 0.4
    assert shift["kl"] > same["kl"] >= 0 - 1e-12
    assert same["n_a"] == same["n_b"] == 2000
    # histogram clamps out-of-range values into the edge bins and
    # excludes NULL/NaN
    h = spark.createDataFrame(
        [(-5.0,), (0.5,), (99.0,), (None,), (float("nan"),)], "x double")
    bins = {r["bin"]: r["cnt"]
            for r in histogram(h, "x", bins=4, lo=0.0, hi=1.0).collect()}
    assert bins == {0: 1, 2: 1, 3: 1}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-null"):
        distribution_drift(a, h.where("x > 1000"), "x", 4, 0.0, 1.0)


def test_ivfpq_prunes_scan_to_probed_lists(spark, embeddings, tmp_path):
    """The round-6 scale fix: search must filter `bucket IN (probed)`
    BEFORE the explode, and on a partitioned-by-bucket layout that
    filter must reach the scan as a partition filter — each query
    touches n_probe/n_lists of the corpus, not all of it."""
    from dask_ml_spark.datapipe.similarity import IVFPQIndex, write_coded

    idx = IVFPQIndex(n_lists=8, m=4, k=16, n_probe=2).fit(embeddings)
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    baseline = {(r["query_id"], r["vec_id"], r["rank"])
                for r in idx.search(embeddings, queries, topk=10).collect()}

    path = str(tmp_path / "ivfpq_coded")
    write_coded(idx.encode(embeddings), path)
    coded = spark.read.parquet(path)
    out = idx.search(coded, queries, topk=10)
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in out.collect()}
    assert got == baseline

    plan = out._jdf.queryExecution().executedPlan().toString()
    # probed-list pruning lands at the parquet scan as partition
    # filters (bucket is the partition column of the written layout)
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "bucket" in seg[1][:200]
    # the probed union is a strict subset of the 8 lists: the scan
    # filter is a real IN-list prune, not a tautology
    assert " IN (" in seg[1][:200]


def test_ivf_precoded_search_prunes_and_matches(spark, embeddings, tmp_path):
    from dask_ml_spark.datapipe.similarity import IVFIndex, write_coded

    idx = IVFIndex(n_lists=8, n_probe=3).fit(embeddings)
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    baseline = {(r["query_id"], r["vec_id"], r["rank"])
                for r in idx.search(embeddings, queries, k=10).collect()}

    path = str(tmp_path / "ivf_coded")
    write_coded(idx.assign(embeddings), path)
    coded = spark.read.parquet(path)
    out = idx.search(coded, queries, k=10)
    assert {(r["query_id"], r["vec_id"], r["rank"])
            for r in out.collect()} == baseline
    plan = out._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)
    assert len(seg) == 2 and "bucket" in seg[1][:200]


def test_ivf_distributed_coarse_fit(spark, embeddings):
    """coarse='distributed' trains the quantizer with the full-corpus
    MLlib KMeans instead of a driver sample; search still returns a
    full top-k per query from the probed lists."""
    from dask_ml_spark.datapipe.similarity import IVFIndex, IVFPQIndex

    idx = IVFIndex(n_lists=4, n_probe=2, seed=3).fit(
        embeddings, coarse="distributed")
    assert idx.centroids_.shape[0] == 4
    queries = embeddings.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = idx.search(embeddings, queries, k=5).collect()
    assert {r["query_id"] for r in got} == {0, 1}
    assert all(1 <= r["rank"] <= 5 for r in got)

    pq = IVFPQIndex(n_lists=4, m=4, k=8, n_probe=2, seed=3).fit(
        embeddings, coarse="distributed")
    assert pq.centroids_.shape[0] == 4 and len(pq.codebooks_) == 4
    out = pq.search(embeddings, queries, topk=5).collect()
    assert {r["query_id"] for r in out} == {0, 1}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="coarse"):
        IVFIndex(n_lists=4).fit(embeddings, coarse="nope")


def test_text_stats_do_not_leak_session_cache(spark):
    """bm25_scores / bm25_topk / unigram_logprob_scores pin their
    shared subtrees via localCheckpoint, not persist: a library-level
    persist registers in the session CacheManager and stays there for
    the session's lifetime (nothing ever unpersists it), while
    checkpoint blocks are reclaimed by the ContextCleaner once the
    result frame is dropped."""
    from dask_ml_spark.datapipe.text_stats import (
        bigram_logprob_scores, bm25_scores, bm25_topk,
        unigram_logprob_scores)

    docs = spark.createDataFrame(
        [(1, "red dog runs"), (2, "red red cat dog"), (3, "blue bird")],
        ["doc_id", "text"])
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    bm25_scores(docs, ["red", "dog"]).collect()
    bm25_topk(docs, {"q1": ["red"], "q2": ["bird"]}, k=2).collect()
    unigram_logprob_scores(docs).collect()
    bigram_logprob_scores(docs).collect()
    assert cm.isEmpty()


def test_pair_join_dedup_family_does_not_leak_session_cache(spark):
    """The banded/blocked pair-join family (VERDICT r6 #1): none of
    minhash_lsh_pairs / simhash_near_pairs / ngram_jaccard_pairs /
    duplicate_clusters / contamination_scores may leave a CacheManager
    entry behind — doc-level frames pin via localCheckpoint
    (ContextCleaner-reclaimed), corpus-scale shingle explodes are
    recomputed statelessly."""
    from dask_ml_spark.datapipe.decontam import contamination_scores
    from dask_ml_spark.datapipe.dedup import (
        duplicate_clusters, minhash_lsh_pairs, ngram_jaccard_pairs,
        simhash_near_pairs)

    docs = spark.createDataFrame(
        [(1, "red dog runs fast over the field"),
         (2, "red dog runs fast over the green field"),
         (3, "blue bird sits still on the wire"),
         (4, "blue bird sits still on a wire")],
        ["doc_id", "text"])
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    pairs = minhash_lsh_pairs(docs, n_hashes=8, bands=4, shingle_n=2)
    pairs.collect()
    simhash_near_pairs(docs, n_bits=32, max_hamming=8).collect()
    ngram_jaccard_pairs(docs, shingle_n=2).collect()
    duplicate_clusters(pairs).collect()
    contamination_scores(docs, docs.limit(1), shingle_n=2).collect()
    assert cm.isEmpty()


def test_distribution_drift_single_query(spark):
    """Both sides histogram in ONE union-tagged aggregate (a single
    collect), not one job pair per side (VERDICT r5 polish)."""
    from dask_ml_spark.datapipe.profiling import distribution_drift

    a = spark.createDataFrame([(float(i % 10) / 10,) for i in range(100)], ["x"])
    b = spark.createDataFrame([(float(i % 5) / 5,) for i in range(100)], ["x"])
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = distribution_drift(a, b, "x", bins=10, lo=0.0, hi=1.0)
    after = set(tracker.getJobIdsForGroup(None))
    # one query: AQE may stage it as up to 2 jobs; the old two-collect
    # implementation ran 2 queries (>= 2 jobs even without AQE, 4 with)
    assert 1 <= len(after - before) <= 2
    assert out["n_a"] == out["n_b"] == 100
    assert out["tvd"] > 0.0


def test_image_dhash_stub_matches_python_replay(spark):
    """The JVM stub dHash replays multimodal._fake_pixels + integer
    gradient bits exactly (independent hashlib/numpy reference)."""
    import hashlib

    import numpy as np

    from dask_ml_spark.datapipe.image_dedup import image_hashes

    texts = ["hello world", "hello world", "other text", ""]
    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]).withColumn(
        "blob", F.encode("text", "utf-8"))
    got = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
           for r in image_hashes(df).collect()}

    def replay(text):
        d = hashlib.md5(text.encode()).digest()
        px = np.frombuffer((d * 15)[:216], dtype=np.uint8)
        gray = px.astype(int).reshape(8, 9, 3).sum(axis=2)
        bits = (gray[:, :-1] > gray[:, 1:]).astype(int).ravel()
        return tuple(int((bits[16 * b:16 * b + 16]
                          << np.arange(15, -1, -1)).sum()) for b in range(4))

    for i, t in enumerate(texts):
        assert got[i] == replay(t)
    assert got[0] == got[1] and got[0] != got[2]


def test_image_dhash_real_decode_and_perturbation(spark):
    """Real path: identical BMP re-encodes hash identically; a tiny
    local perturbation moves few bits; gradient structure is captured
    (left-to-right ramp -> all-zero bits; reverse ramp -> all-one)."""
    import numpy as np

    from dask_ml_spark.datapipe.image_dedup import (image_hashes,
                                                    image_near_dup)
    from dask_ml_spark.datapipe.multimodal import encode_bmp

    rng = np.random.RandomState(2)
    base = rng.randint(0, 256, size=(16, 18, 3), dtype="uint8")
    tweak = base.copy()
    # flip one pixel ON the nearest-resize sampling grid (even row/col
    # at 16x18 -> 8x9) so the thumbnail actually sees it
    tweak[2, 4] = 255 - tweak[2, 4]
    ramp = np.tile(np.linspace(0, 255, 18).astype("uint8")[None, :, None],
                   (16, 1, 3))
    df = spark.createDataFrame(
        [(0, bytearray(encode_bmp(base))),
         (1, bytearray(encode_bmp(base))),
         (2, bytearray(encode_bmp(tweak))),
         (3, bytearray(encode_bmp(ramp))),
         (4, bytearray(encode_bmp(ramp[:, ::-1].copy())))],
        "doc_id long, blob binary")
    got = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
           for r in image_hashes(df, stub=False).collect()}
    assert got[0] == got[1]
    # increasing ramp: every adjacent comparison is '<' -> bits 0
    assert got[3] == (0, 0, 0, 0)
    assert got[4] == (65535, 65535, 65535, 65535)
    ham = sum(bin(a ^ b).count("1") for a, b in zip(got[0], got[2]))
    assert 0 < ham <= 3  # local tweak moves at most a few bits

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_near_dup(df, stub=False, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 2)] == ham and pairs[(1, 2)] == ham
    assert (3, 4) not in pairs  # opposite gradients are far


def test_image_near_dup_real_decode_few_hundred_oracle(spark):
    """r6-verdict ask: the banded near-dup family end-to-end over a
    few hundred REAL decodes (mixed BMP / PNG / baseline-JPEG /
    progressive-JPEG containers through mapInPandas), pinned against
    the local brute-force pair oracle; plus the stub/real schema
    parity claim asserted literally (r7 caught int-vs-bigint band
    drift on the stub path)."""
    import numpy as np

    from dask_ml_spark.datapipe.image_dedup import (_real_bands,
                                                    image_hashes,
                                                    image_near_dup)
    from dask_ml_spark.datapipe.jpeg import (encode_jpeg,
                                             encode_jpeg_progressive)
    from dask_ml_spark.datapipe.multimodal import encode_bmp
    from dask_ml_spark.datapipe.png import encode_png

    rng = np.random.RandomState(11)
    blobs = []
    for i in range(80):
        img = rng.randint(0, 256, (16, 18, 3), np.uint8)
        blobs.append(encode_bmp(img))
        if i % 3 == 0:  # same pixels, different container → hamming 0
            blobs.append(encode_png(img))
        if i % 4 == 0:  # one on-grid pixel flip → hamming <= a few
            t = img.copy()
            t[2, 4] = 255 - t[2, 4]
            blobs.append(encode_bmp(t))
        if i % 5 == 0:  # lossy re-encode: near, rarely exact
            blobs.append(encode_jpeg(img))
        if i % 8 == 0:  # progressive re-encode == baseline pixels
            blobs.append(encode_jpeg_progressive(img))
    assert len(blobs) > 150
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)],
        "doc_id long, blob binary")

    bands = [_real_bands(b) for b in blobs]

    def ham(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

    want = {(i, j, ham(bands[i], bands[j]))
            for i in range(len(bands)) for j in range(i + 1, len(bands))
            if ham(bands[i], bands[j]) <= 3}
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in image_near_dup(df, stub=False, max_hamming=3).collect()}
    assert got == want
    assert len(want) >= 25  # the planted PNG/JPEG dups guarantee pairs
    # schema parity, literally: names AND types
    assert (image_hashes(df, stub=True).schema
            == image_hashes(df, stub=False).schema)


def test_image_near_dup_banding_is_exhaustive_at_3(spark):
    """Pigeonhole recall proof at the operator level: every pair with
    Hamming distance <= 3 out of 64 bits shares a 16-bit band, so the
    banded join finds exactly the brute-force pair set."""
    import itertools

    import numpy as np

    from dask_ml_spark.datapipe.image_dedup import image_hashes, image_near_dup

    rng = np.random.RandomState(7)
    texts = [("t%d" % i, "doc %d" % (i % 12)) for i in range(60)]
    df = spark.createDataFrame(texts, ["sid", "text"]).withColumn(
        "blob", F.encode("text", "utf-8")).withColumn(
        "doc_id", F.monotonically_increasing_id())
    hashes = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
              for r in image_hashes(df).collect()}
    want = set()
    for a, b in itertools.combinations(sorted(hashes), 2):
        d = sum(bin(x ^ y).count("1")
                for x, y in zip(hashes[a], hashes[b]))
        if d <= 3:
            want.add((a, b, d))
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in image_near_dup(df, max_hamming=3).collect()}
    assert got == want and len(want) >= 1  # dup texts guarantee hits


def test_fuzzy_join_matches_bruteforce(spark):
    """FastSS deletion-neighborhood blocking is EXHAUSTIVE: for random
    short strings (empties included) the banded operator returns
    exactly the brute-force levenshtein pair set at k=1 and k=2."""
    import itertools
    import random

    from dask_ml_spark.operators.joins import fuzzy_self_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    rng = random.Random(4)
    words = ["".join(rng.choice("abc") for _ in range(rng.randint(0, 5)))
             for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(words)), ["id", "w"])
    for k in (1, 2):
        want = {(i, j, lev(words[i], words[j]))
                for i, j in itertools.combinations(range(len(words)), 2)
                if lev(words[i], words[j]) <= k}
        got = {(r["id_a"], r["id_b"], r["distance"])
               for r in fuzzy_self_pairs(df, "w", "id", max_edit=k).collect()}
        assert got == want and len(want) > 0


def test_fuzzy_join_two_sided_and_k0(spark):
    from dask_ml_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame([(1, "spark"), (2, "flink")], ["lid", "name"])
    right = spark.createDataFrame(
        [(10, "sparc"), (11, "spark"), (12, "blink"), (13, "other")],
        ["rid", "name"])
    got = {(r["lid_l"], r["rid_r"], r["distance"])
           for r in fuzzy_join(left, right, "name", "name",
                               "lid", "rid", max_edit=1).collect()}
    assert got == {(1, 10, 1), (1, 11, 0), (2, 12, 1)}
    # k=0 degenerates to the exact equi-join
    exact = {(r["lid_l"], r["rid_r"])
             for r in fuzzy_join(left, right, "name", "name",
                                 "lid", "rid", max_edit=0).collect()}
    assert exact == {(1, 11)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_edit"):
        fuzzy_join(left, right, "name", "name", "lid", "rid", max_edit=-1)


def test_fuzzy_join_contract_guards(spark):
    """ADVICE r6: the O(len^k) contract is enforced — max_edit > 2
    raises, keys over max_key_len fail the job with a clear message,
    and max_key_len=None opts out."""
    import pytest as _pytest

    from dask_ml_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame([(1, "spark")], ["lid", "name"])
    right = spark.createDataFrame([(10, "sparc")], ["rid", "name"])
    with _pytest.raises(ValueError, match="FastSS"):
        fuzzy_join(left, right, "name", "name", "lid", "rid", max_edit=3)

    long = spark.createDataFrame([(2, "x" * 200)], ["lid", "name"])
    with _pytest.raises(Exception, match="max_key_len"):
        fuzzy_join(long, right, "name", "name", "lid", "rid",
                   max_edit=1).collect()
    # opt-out path still computes (no pairs at distance <= 1 here)
    assert fuzzy_join(long, right, "name", "name", "lid", "rid",
                      max_edit=1, max_key_len=None).count() == 0
    # boundary: exactly max_key_len chars is allowed
    edge = spark.createDataFrame([(3, "y" * 64)], ["lid", "name"])
    assert fuzzy_join(edge, right, "name", "name", "lid", "rid",
                      max_edit=1).count() == 0


def test_audio_fingerprint_stub_matches_python_replay(spark):
    import hashlib

    import numpy as np

    from dask_ml_spark.datapipe.audio_dedup import audio_fingerprints

    texts = ["clip one", "clip one", "clip two", ""]
    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]).withColumn(
        "blob", F.encode("text", "utf-8"))
    got = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
           for r in audio_fingerprints(df).collect()}

    def replay(text):
        d = hashlib.md5(text.encode()).digest()
        # energy[k] = byte[k mod 13] XOR byte[(5k+1) mod 16] — the
        # mixed moduli make the tile period lcm(13,16)=208 > 65, so
        # no bit repeats (a bare mod 13 made bit p == bit p+13,
        # collapsing the keyspace to ~2^13; ADVICE r6)
        e = np.asarray([d[k % 13] ^ d[(5 * k + 1) % 16]
                        for k in range(65)], dtype=int)
        bits = (e[:-1] > e[1:]).astype(int)
        return tuple(int((bits[16 * b:16 * b + 16]
                          << np.arange(15, -1, -1)).sum()) for b in range(4))

    for i, t in enumerate(texts):
        assert got[i] == replay(t)
    assert got[0] == got[1] and got[0] != got[2]
    # the four bands must NOT be degenerate copies of one another
    # (a 16-byte tile period would cancel the band index entirely)
    assert len(set(got[0])) > 1
    # and no bit position may be a copy of another: all 64 comparison
    # bits must be distinct functions of the digest (period > 65)
    per = [d[k % 13] ^ d[(5 * k + 1) % 16]
           for d in [hashlib.md5(b"x").digest()] for k in range(209)]
    assert per[:65] != per[13:78]  # the old mod-13 period is gone


def test_audio_fingerprint_real_wav_and_near_dup(spark):
    """Real path: identical PCM re-encodes fingerprint identically; a
    slightly amplitude-scaled copy keeps the SPECTRAL SHAPE (gradient
    bits are scale-invariant -> hamming 0); a different tone mix is
    far; near-dup pairs reflect exactly that."""
    import numpy as np

    from dask_ml_spark.datapipe.audio_dedup import (audio_fingerprints,
                                                    audio_near_dup)
    from dask_ml_spark.datapipe.multimodal import encode_wav

    t = np.arange(4096) / 16000.0
    a = 0.5 * np.sin(2 * np.pi * 440 * t) + 0.2 * np.sin(2 * np.pi * 1300 * t)
    b = 0.8 * a  # re-levelled copy: same spectral envelope
    c = 0.5 * np.sin(2 * np.pi * 3000 * t) + 0.3 * np.sin(2 * np.pi * 700 * t)
    df = spark.createDataFrame(
        [(0, bytearray(encode_wav(a))), (1, bytearray(encode_wav(a))),
         (2, bytearray(encode_wav(b))), (3, bytearray(encode_wav(c)))],
        "doc_id long, blob binary")
    got = {r["doc_id"]: (r["h0"], r["h1"], r["h2"], r["h3"])
           for r in audio_fingerprints(df, stub=False).collect()}
    assert got[0] == got[1] == got[2]
    far = sum(bin(x ^ y).count("1") for x, y in zip(got[0], got[3]))
    assert far > 3
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in audio_near_dup(df, stub=False).collect()}
    assert pairs == {(0, 1): 0, (0, 2): 0, (1, 2): 0}
    # stub/real schema parity, literally (names AND types)
    assert (audio_fingerprints(df, stub=True).schema
            == audio_fingerprints(df, stub=False).schema)


def test_ann_index_save_load_roundtrip(spark, embeddings, tmp_path):
    """Index model state (centroids/codebooks/hyperplanes) pickles and
    reopens; paired with write_coded this reopens a production index
    in a fresh session. Wrong-type loads are rejected."""
    import numpy as np
    import pytest as _pytest

    from dask_ml_spark.datapipe.similarity import (CosineLSHIndex,
                                                   IVFIndex, IVFPQIndex,
                                                   PQIndex)

    queries = embeddings.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding")

    idx = IVFPQIndex(n_lists=8, m=4, k=16, n_probe=2).fit(embeddings)
    p = str(tmp_path / "ivfpq.pkl")
    back = IVFPQIndex.load(idx.save(p))
    assert np.allclose(back.centroids_, idx.centroids_)
    a = {(r["query_id"], r["vec_id"], r["rank"])
         for r in idx.search(embeddings, queries, topk=5).collect()}
    b = {(r["query_id"], r["vec_id"], r["rank"])
         for r in back.search(embeddings, queries, topk=5).collect()}
    assert a == b

    lsh = CosineLSHIndex(n_bands=4, bits_per_band=8).fit(embeddings)
    lsh2 = CosineLSHIndex.load(lsh.save(str(tmp_path / "lsh.pkl")))
    assert np.allclose(lsh2.hyperplanes_, lsh.hyperplanes_)

    ivf = IVFIndex(n_lists=4).fit(embeddings)
    ivf.save(str(tmp_path / "ivf.pkl"))
    with _pytest.raises(TypeError, match="IVFIndex"):
        PQIndex.load(str(tmp_path / "ivf.pkl"))


def test_strip_markup_behaviors(spark):
    from dask_ml_spark.datapipe.text_stats import strip_markup

    rows = [
        (1, "<p>Hello <b>world</b></p>"),
        (2, "<script>var x = '<p>not text</p>';</script>real"),
        (3, "<STYLE media=all>body{}</STYLE>kept"),
        (4, "a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;&nbsp;f"),
        (5, "  spaced\t\tout\n\nlines  "),
        (6, "no markup at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"]
           for r in strip_markup(df).collect()}
    assert got[1] == "Hello world"
    assert got[2] == "real"            # script CONTENT removed wholesale
    assert got[3] == "kept"            # case-insensitive style block
    assert got[4] == "a & b <c> \"d\" 'e' f"
    assert got[5] == "spaced out lines"
    assert got[6] == "no markup at all"
    # entity-escaped markup shown AS TEXT must stay text, not be
    # resurrected into live markup by decoding &amp; before &lt;
    esc = spark.createDataFrame(
        [(1, "&amp;lt;script&amp;gt;alert(1)&amp;lt;/script&amp;gt;")],
        ["doc_id", "text"])
    got2 = strip_markup(esc).collect()[0]["text"]
    assert got2 == "&lt;script&gt;alert(1)&lt;/script&gt;"
    # output_col keeps the original
    out = strip_markup(df, output_col="clean").collect()[0]
    assert "clean" in out.asDict() and "text" in out.asDict()
    # narrow JVM plan
    plan = strip_markup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
    # ADVICE r6: \x0B (vertical tab) is in Java's \s but NOT RE2's —
    # the collapse uses the explicit class [ \t\n\r\f]+ so both
    # engines agree: \x0B survives, surrounding runs still collapse
    import duckdb as _duck
    vt = spark.createDataFrame([(1, "a \x0b\t b\f\nc")], ["doc_id", "text"])
    got_vt = strip_markup(vt).collect()[0]["text"]
    want_vt = _duck.sql(
        r"SELECT trim(regexp_replace('a ' || chr(11) || chr(9) ||"
        r" ' b' || chr(12) || chr(10) || 'c',"
        r" '[ \t\n\r\f]+', ' ', 'g'))").fetchone()[0]
    assert got_vt == want_vt and "\x0b" in got_vt


def test_vocab_coverage_metrics(spark):
    from dask_ml_spark.datapipe.text_stats import vocab_coverage

    df = spark.createDataFrame(
        [("s1", "aa bb aa cc"), ("s2", "aa dddd")], ["source", "text"])
    # list-vocab path
    out = {r["source"]: r for r in vocab_coverage(
        df, ["aa", "bb"], group_col="source").collect()}
    assert out["s1"]["n_tokens"] == 4
    assert out["s1"]["oov_rate"] == 0.25          # cc
    assert out["s1"]["chars_per_token"] == 2.0
    assert out["s2"]["oov_rate"] == 0.5           # dddd
    assert out["s2"]["chars_per_token"] == 3.0
    # DataFrame-vocab path + corpus-level (no group)
    vdf = spark.createDataFrame([("aa",), ("dddd",)], ["w"])
    corpus = vocab_coverage(df, vdf).collect()[0]
    assert corpus["n_tokens"] == 6
    assert corpus["oov_rate"] == pytest.approx(2 / 6)


def test_image_near_dup_collapse_exact(spark):
    """collapse_exact: identical fingerprints reduce to their min-id
    representative — pair output linear in DISTINCT fingerprints, the
    heavy-exact-duplication posture."""
    from dask_ml_spark.datapipe.image_dedup import image_near_dup

    df = spark.createDataFrame(
        [(i, "same content") for i in range(6)] + [(10, "different!")],
        ["doc_id", "text"]).withColumn("blob", F.encode("text", "utf-8"))
    full = image_near_dup(df).collect()
    assert len(full) == 15  # C(6,2) same-hash pairs
    collapsed = image_near_dup(df, collapse_exact=True).collect()
    # one representative (id 0) left for the clones; no cross pair with
    # the distinct content at hamming<=3 expected from random md5 bits
    assert all(r["id_a"] != r["id_b"] for r in collapsed)
    ids = {i for r in collapsed for i in (r["id_a"], r["id_b"])}
    assert not ({1, 2, 3, 4, 5} & ids)


def test_cooccurrence_and_ppmi_match_bruteforce(spark):
    from collections import Counter

    import numpy as np

    from dask_ml_spark.datapipe.embed_train import (cooccurrence_counts,
                                                    ppmi_scores)

    texts = ["the cat sat on the mat", "the dog sat on the log",
             "cat and dog play", "x"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {(r["w1"], r["w2"]): r["n"]
           for r in cooccurrence_counts(df, window=2, vocab_size=100).collect()}

    ref = Counter()
    for t in texts:
        toks = [w for w in t.lower().split() if len(w) >= 2]
        for i in range(len(toks)):
            for j in range(i + 1, min(i + 3, len(toks))):
                ref[(toks[i], toks[j])] += 1
                ref[(toks[j], toks[i])] += 1
    assert got == dict(ref)

    ppmi = {(r["w1"], r["w2"]): r["ppmi"]
            for r in ppmi_scores(cooccurrence_counts(
                df, window=2, vocab_size=100)).collect()}
    N = sum(ref.values())
    m1 = Counter(); m2 = Counter()
    for (a, b), n in ref.items():
        m1[a] += n; m2[b] += n
    for (a, b), n in ref.items():
        want = round(max(0.0, np.log(n * N / (m1[a] * m2[b]))), 6)
        assert abs(ppmi[(a, b)] - want) < 1e-9


def test_logdice_matches_bruteforce(spark):
    """logDice = 14 + log2(2n/(n1+n2)) replayed from the same
    brute-force co-occurrence counts; capped at 14 (a pair owning all
    of both marginals), corpus-size invariant (duplicating the corpus
    leaves it unchanged — the property PMI lacks)."""
    import math
    from collections import Counter

    from dask_ml_spark.datapipe.embed_train import (cooccurrence_counts,
                                                    logdice_scores)

    texts = ["the cat sat on the mat", "the dog sat on the log",
             "cat and dog play"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    cooc = cooccurrence_counts(df, window=2, vocab_size=100)
    got = {(r["w1"], r["w2"]): r["logdice"]
           for r in logdice_scores(cooc).collect()}
    ref = Counter()
    for t in texts:
        toks = [w for w in t.lower().split() if len(w) >= 2]
        for i in range(len(toks)):
            for j in range(i + 1, min(i + 3, len(toks))):
                ref[(toks[i], toks[j])] += 1
                ref[(toks[j], toks[i])] += 1
    m1 = Counter(); m2 = Counter()
    for (a, b), n in ref.items():
        m1[a] += n; m2[b] += n
    for (a, b), n in ref.items():
        want = round(14.0 + math.log(2.0 * n / (m1[a] + m2[b]))
                     / math.log(2.0), 6)
        assert abs(got[(a, b)] - want) < 1e-9
        assert got[(a, b)] <= 14.0 + 1e-9
    # corpus-size invariance: double every document, scores unchanged
    df2 = spark.createDataFrame([(t,) for t in texts * 2], ["text"])
    got2 = {(r["w1"], r["w2"]): r["logdice"]
            for r in logdice_scores(cooccurrence_counts(
                df2, window=2, vocab_size=100)).collect()}
    assert got2 == got


def test_static_embeddings_semantics_and_replay(spark):
    """cat/dog share contexts -> high cosine; unrelated words low.
    Values replay exactly: the same rounded-PPMI matrix through the
    same numpy SVD."""
    import numpy as np

    from dask_ml_spark.datapipe.embed_train import (cooccurrence_counts,
                                                    ppmi_scores,
                                                    top_vocabulary,
                                                    train_static_embeddings)

    texts = (["the cat sat on the mat"] * 5
             + ["the dog sat on the mat"] * 5
             + ["stocks fell sharply today"] * 5
             + ["the cat chased string"] * 3
             + ["the dog chased string"] * 3)
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    emb = {r["word"]: np.asarray(r["embedding"])
           for r in train_static_embeddings(
               df, dim=8, window=2, vocab_size=50).collect()}

    def cos(a, b):
        return float(emb[a] @ emb[b])

    assert cos("cat", "dog") > 0.8          # interchangeable contexts
    assert cos("cat", "dog") > cos("cat", "stocks") + 0.3

    # exact replay: rebuild the matrix from the Spark PPMI table and
    # run the identical factorization
    vocab = top_vocabulary(df, vocab_size=50)
    words = [r["word"] for r in vocab.collect()]
    idx = {w: i for i, w in enumerate(words)}
    M = np.zeros((len(words), len(words)))
    for r in ppmi_scores(cooccurrence_counts(df, window=2, vocab=vocab)).collect():
        M[idx[r["w1"]], idx[r["w2"]]] = r["ppmi"]
    U, S, _ = np.linalg.svd(M, full_matrices=False)
    E = U[:, :8] * np.sqrt(S[:8])[None, :]
    E = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
    for i, w in enumerate(words):
        assert np.allclose(emb[w], E[i], atol=1e-9)


def test_static_embeddings_distributed_solver_matches_driver(spark):
    """solver='distributed' (sparse-COO randomized SVD, VERDICT r6 #2)
    reproduces the dense driver-numpy factorization: with
    n_oversamples >= V the sketch spans the full space, so the
    factorization is exact and the embedding GRAM matrix E@E^T
    (= U_k S_k U_k^T before normalization — invariant to the
    per-component sign ambiguity) must agree to float tolerance."""
    import numpy as np

    from dask_ml_spark.datapipe.embed_train import train_static_embeddings

    texts = (["the cat sat on the mat"] * 5
             + ["the dog sat on the mat"] * 5
             + ["stocks fell sharply today"] * 5
             + ["the cat chased string"] * 3
             + ["the dog chased string"] * 3)
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    kw = dict(dim=8, window=2, vocab_size=50)
    e_drv = {r["word"]: np.asarray(r["embedding"]) for r in
             train_static_embeddings(df, solver="driver", **kw).collect()}
    e_dst = {r["word"]: np.asarray(r["embedding"]) for r in
             train_static_embeddings(df, solver="distributed",
                                     n_oversamples=50, n_iter=2,
                                     **kw).collect()}
    words = sorted(e_drv)
    assert words == sorted(e_dst)
    G_drv = np.asarray([[e_drv[a] @ e_drv[b] for b in words] for a in words])
    G_dst = np.asarray([[e_dst[a] @ e_dst[b] for b in words] for a in words])
    assert np.allclose(G_drv, G_dst, atol=1e-6)
    # auto dispatch: small V stays on the exact driver path
    e_auto = {r["word"]: np.asarray(r["embedding"]) for r in
              train_static_embeddings(df, solver="auto", **kw).collect()}
    for w in words:
        assert np.allclose(e_auto[w], e_drv[w], atol=1e-12)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="solver"):
        train_static_embeddings(df, solver="nope", **kw)


def test_embed_train_coo_matvec_plan_shape(spark):
    """The distributed-SVD building block is one BROADCAST join of the
    V x l sketch + one hash aggregate over the COO frame — no shuffle
    of the sketch, no cartesian, no V x V anywhere (the driver only
    sees the collected V x l panel)."""
    from dask_ml_spark.datapipe.embed_train import _coo_matvec_frame

    coo = spark.createDataFrame(
        [("a", "b", 1.5), ("b", "a", 1.5), ("a", "c", 0.5)],
        "w1 string, w2 string, ppmi double")
    sketch = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [1.0, 1.0])],
        "w2 string, __w array<double>")
    frame = _coo_matvec_frame(coo, "w1", "w2", "ppmi", sketch, 2)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    got = {r["w1"]: (r["__y0"], r["__y1"]) for r in frame.collect()}
    # y[a] = 1.5*W[b] + 0.5*W[c]; y[b] = 1.5*W[a]
    assert got["a"] == (0.5, 2.0) and got["b"] == (1.5, 0.0)


def test_lsh_geometry_derivation(spark):
    """The shared auto_scale rule (operator AND the scaled-near-dup
    SQL oracle builder call it): bits ~ log2(N)+4, bands re-derived
    for >= 95% band survival, shed bits when the band budget (64)
    would blow."""
    from dask_ml_spark.datapipe.dedup import derive_lsh_geometry

    # the oracle fixed point: N=500 at threshold 0.9 -> 23 x 13
    assert derive_lsh_geometry(500, 0.9, 12, 12) == (23, 13)
    # small N keeps the defaults
    assert derive_lsh_geometry(100, 0.9, 12, 12) == (12, 12)
    # bits grow ~log2(N) (minus budget-driven shedding: 50k wants 20
    # bits but 20 needs 67 bands > 64, so it sheds to 19); bands stay
    # within the 64 budget either way
    b1, k1 = derive_lsh_geometry(5_000, 0.9, 12, 12)
    b2, k2 = derive_lsh_geometry(50_000, 0.9, 12, 12)
    assert (b1, k1) == (42, 17) and (b2, k2) == (57, 19)
    # and the operator path at sf0.001 still runs green with auto bits
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from dask_ml_spark.datapipe.dedup import embedding_near_dup_pairs

    out = embedding_near_dup_pairs(emb, threshold=0.9)
    assert out.count() >= 0


def test_canonical_url_and_dedup(spark):
    from dask_ml_spark.datapipe.text_stats import (canonicalize_urls,
                                                   url_dedup)

    cases = [
        # (input, canonical)
        ("HTTPS://WWW.Example.COM/Path/", "https://example.com/Path"),
        ("https://example.com:443/x", "https://example.com/x"),
        ("http://example.com:80/x", "http://example.com/x"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("https://example.com/x?utm_source=a&utm_medium=b",
         "https://example.com/x"),
        ("https://example.com/x?a=1&utm_campaign=c&b=2",
         "https://example.com/x?a=1&b=2"),
        ("https://example.com/x?utm_source=a&b=2",
         "https://example.com/x?b=2"),
        ("https://example.com/x#frag", "https://example.com/x"),
        ("https://example.com/x?fbclid=123", "https://example.com/x"),
        # anchored removal: params merely CONTAINING a tracking name
        # are REAL params and must survive intact (review-caught)
        ("https://example.com/x?myfbclid=A", "https://example.com/x?myfbclid=A"),
        ("https://example.com/x?foo_utm_x=1&b=2",
         "https://example.com/x?foo_utm_x=1&b=2"),
        # path case is PRESERVED (paths are case-sensitive), and
        # non-URLs pass through untouched
        ("not a url at all", "not a url at all"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["doc_id", "url"])
    got = {r["doc_id"]: r["canon"]
           for r in canonicalize_urls(df, "url", "canon").collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])

    # keep-one: all equivalent forms of one page collapse to min id
    dup = spark.createDataFrame(
        [(10, "https://www.site.com/a/"), (11, "HTTPS://site.com/a"),
         (12, "https://site.com:443/a#x"), (13, "https://site.com/b")],
        ["doc_id", "url"])
    out = {(r["doc_id"], r["canonical_url"])
           for r in url_dedup(dup).collect()}
    assert out == {(10, "https://site.com/a"), (13, "https://site.com/b")}


def test_gopher_quality_rules(spark):
    """Each Gopher rule trips on its crafted document; the normal doc
    passes; feature values match hand computation."""
    from dask_ml_spark.datapipe.text_stats import gopher_quality

    stop = "the be to of and that have with"
    good = ("the quick brown fox jumps over a lazy dog and then " * 5
            + stop)  # 55+ words, stopwords present, all alphabetic
    short = "the of and"  # < 50 words
    bullets = "\n".join("• item %d with the of and text here ok" % i
                        for i in range(20))  # every line bullet-led
    dots = "\n".join("this line of the text trails off..." for _ in range(10))
    symbols = ("### " * 30) + good  # hash-heavy
    numbers = ("12345 " * 60) + "the of"  # alpha fraction low
    rows = [(0, good), (1, short), (2, bullets), (3, dots),
            (4, symbols), (5, numbers)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict()
           for r in gopher_quality(df, min_words=20).collect()}

    assert got[0]["passes"] is True
    assert got[1]["passes"] is False and got[1]["n_words"] == 3
    assert got[2]["passes"] is False and got[2]["bullet_line_frac"] == 1.0
    assert got[3]["passes"] is False and got[3]["ellipsis_line_frac"] == 1.0
    assert got[4]["passes"] is False and got[4]["symbol_ratio"] > 0.1
    assert got[5]["passes"] is False and got[5]["alpha_word_frac"] < 0.8
    # hand-check a couple of features on the short doc
    assert got[1]["n_stop_present"] == 3  # the, of, and
    assert got[1]["mean_word_len"] == round((3 + 2 + 3) / 3, 6)
    # word split treats \x0B like RE2 does NOT (explicit class):
    # vertical tab is NOT a separator, matching the oracle
    vt = spark.createDataFrame([(9, "aa\x0bbb cc")], ["doc_id", "text"])
    assert gopher_quality(vt, min_words=1).collect()[0]["n_words"] == 2


def test_script_profile_detection(spark):
    from dask_ml_spark.datapipe.text_stats import script_profile

    rows = [
        (0, "hello plain english text"),
        (1, "привет мир"),                      # cyrillic
        (2, "γειά σου κόσμε"),                  # greek
        (3, "שלום עולם"),                        # hebrew
        (4, "مرحبا بالعالم"),                    # arabic
        (5, "नमस्ते दुनिया"),                     # devanagari
        (6, "漢字の文章"),                        # han (+ kana の)
        (7, "ひらがなカタカナ"),                   # kana
        (8, "안녕하세요 세계"),                    # hangul
        (9, "12345 !!! ..."),                   # no script at all
        (10, "abc абв"),                        # tie 3 vs 3 → alphabetical
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in script_profile(df).collect()}
    want_dom = {0: "latin", 1: "cyrillic", 2: "greek", 3: "hebrew",
                4: "arabic", 5: "devanagari", 6: "han", 7: "kana",
                8: "hangul", 9: "none", 10: "cyrillic"}
    for i, w in want_dom.items():
        assert got[i]["dominant_script"] == w, (i, got[i]["dominant_script"])
    assert got[0]["n_latin"] == len("helloplainenglishtext")
    assert got[0]["non_ascii_frac"] == 0.0
    assert got[1]["n_cyrillic"] == 9 and got[1]["n_latin"] == 0
    assert got[6]["n_han"] == 4 and got[6]["n_kana"] == 1
    # non-ascii fraction: 9 cyrillic chars of 10 total
    assert got[1]["non_ascii_frac"] == 0.9


def test_embedding_drift_per_dimension(spark):
    """Per-dim Welch sweep over exploded vectors: dims where the two
    groups genuinely differ reject after BH, identical dims don't, and
    each dim's t matches the scalar welch_ttest on that dim."""
    import numpy as np

    from dask_ml_spark.datapipe.profiling import embedding_drift
    from dask_ml_spark.functions.stats import welch_ttest

    rng = np.random.RandomState(61)
    rows = []
    for g, shift in ((0, 0.0), (1, 1.5)):
        for _ in range(120):
            # dims 0-1 shift with the group; dims 2-3 are identical
            v = [float(rng.normal(shift, 1.0)),
                 float(rng.normal(-shift, 1.0)),
                 float(rng.normal(5.0, 1.0)),
                 float(rng.normal(0.0, 1.0))]
            rows.append((g, v))
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    out = {r["dim"]: r for r in
           embedding_drift(df, "embedding", "label", (0, 1)).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(out[d]["valid"] for d in range(4))
    assert out[0]["reject"] and out[1]["reject"]
    assert not out[2]["reject"] and not out[3]["reject"]
    assert out[0]["t_stat"] < -5 and out[1]["t_stat"] > 5
    # per-dim t matches the standalone scalar Welch on that dimension
    from pyspark.sql import functions as SF
    one_dim = df.select("label",
                        SF.col("embedding")[2].alias("v"))
    want = welch_ttest(one_dim, "v", "label", (0, 1)).collect()[0]
    assert abs(out[2]["t_stat"] - want["t_stat"]) < 1e-9


def test_concentration_profile(spark):
    """Closed-form pins: a perfectly even split has gini 0, hhi 1/k,
    normalized entropy 1; a single dominant group approaches the
    1 - 1/k ceiling; a hand 2-group example replays exactly."""
    import math

    from dask_ml_spark.datapipe.profiling import concentration_profile

    even = spark.createDataFrame(
        [(f"s{i % 4}",) for i in range(400)], "g string")
    r = concentration_profile(even, "g").collect()[0]
    assert r["k"] == 4 and r["total"] == 400
    assert abs(r["gini"]) < 1e-12
    assert abs(r["hhi"] - 0.25) < 1e-12
    assert abs(r["entropy_normalized"] - 1.0) < 1e-12
    assert abs(r["top1_share"] - 0.25) < 1e-12
    # 2 groups, 30/10 chars weighted: shares 0.75/0.25
    w = spark.createDataFrame(
        [("a", 10), ("b", 10), ("b", 20)], "g string, ch long")
    r2 = concentration_profile(w, "g", weight_col="ch").collect()[0]
    assert r2["total"] == 40
    # ascending totals (10, 30): gini = 2(1*10+2*30)/(2*40) - 3/2
    assert abs(r2["gini"] - (2.0 * 70 / 80 - 1.5)) < 1e-12
    assert abs(r2["hhi"] - (0.25 ** 2 + 0.75 ** 2)) < 1e-12
    assert abs(r2["entropy"]
               - (-0.25 * math.log(0.25) - 0.75 * math.log(0.75))) \
        < 1e-12
    assert abs(r2["top1_share"] - 0.75) < 1e-12
    # one dominant group: gini near the 1 - 1/k ceiling
    dom = spark.createDataFrame(
        [("big",)] * 997 + [("a",), ("b",), ("c",)], "g string")
    r3 = concentration_profile(dom, "g").collect()[0]
    assert r3["gini"] > 0.7 and r3["top1_share"] == 0.997
    # single group: normalized entropy undefined (NULL)
    one = concentration_profile(
        spark.createDataFrame([("x",)] * 5, "g string"), "g").collect()[0]
    assert one["entropy_normalized"] is None and one["gini"] == 0.0
    with pytest.raises(ValueError, match="max_groups"):
        concentration_profile(
            spark.createDataFrame([(str(i),) for i in range(30)],
                                  "g string"), "g", max_groups=10)


def test_zipf_fit_bruteforce_and_recovery(spark):
    """Hand-computable counts replay the CSN estimator exactly; a
    corpus synthesized FROM a Zipf(alpha=2) law recovers alpha within
    a few standard errors; degenerate all-singleton corpora emit NULL
    alpha rather than a division blow-up."""
    import math

    import numpy as np

    from dask_ml_spark.datapipe.text_stats import zipf_fit

    # hand case: counts {aa:4, bb:2, cc:1} with xmin=2 -> m=2,
    # s = ln(4/1.5)+ln(2/1.5)
    docs = spark.createDataFrame(
        [(1, "aa bb aa cc"), (2, "aa bb aa")], ["doc_id", "text"])
    r = zipf_fit(docs, xmin=2).collect()[0]
    s = math.log(4 / 1.5) + math.log(2 / 1.5)
    assert (r["n_types"], r["n_types_tail"], r["n_tokens"]) == (3, 2, 7)
    assert abs(r["alpha"] - (1.0 + 2.0 / s)) < 1e-12
    assert abs(r["se"] - (2.0 / s) / math.sqrt(2.0)) < 1e-12

    # recovery: token counts drawn from P(x) ∝ x^-2 (discrete zeta),
    # document = each token repeated count times
    rng = np.random.RandomState(5)
    counts = rng.zipf(2.0, size=3000)
    counts = counts[counts <= 10000]
    text = " ".join(f"tk{i:05d} " * int(c) for i, c in enumerate(counts))
    docs2 = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    r2 = zipf_fit(docs2, xmin=2).collect()[0]
    assert abs(r2["alpha"] - 2.0) < 4.0 * r2["se"] + 0.05
    assert 1.7 < r2["alpha"] < 2.3

    # degenerate: all singletons -> NULL alpha/se
    docs3 = spark.createDataFrame([(1, "aa bb cc dd")],
                                  ["doc_id", "text"])
    r3 = zipf_fit(docs3, xmin=2).collect()[0]
    assert r3["alpha"] is None and r3["se"] is None
    with pytest.raises(ValueError, match="xmin"):
        zipf_fit(docs, xmin=0)
