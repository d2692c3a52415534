"""Training-data operator tests: dedup, similarity, text, multimodal,
streaming — semantics checked against hand-computed expectations.
"""

import math

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "The quick brown fox jumps over the lazy dog!"),  # case/punct dup of 1
            (4, "the quick brown fox jumps over the lazy cat today"),  # near dup
            (5, "completely different content about spark engines and tables"),
        ],
        "doc_id: long, text: string",
    )


def test_exact_dedup(docs):
    from iceberg_python_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4, 5]
    # plan shape: ONE exchange (on the digest) with a map-side
    # partial_min_by — no join back, no window, and hot digests collapse
    # before the shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1 and "partial_min_by" in final
    assert "Join" not in final and "Window" not in final


def test_normalized_dedup(docs):
    from iceberg_python_spark.operators.dedup import normalized_dedup

    out = normalized_dedup(docs, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 4, 5]


def test_minhash_dedup_finds_near_dups(docs):
    from iceberg_python_spark.operators.dedup import minhash_dedup

    out = minhash_dedup(docs, "doc_id", "text", threshold=0.5)
    kept = sorted(r.doc_id for r in out.collect())
    assert 1 in kept and 5 in kept
    assert 2 not in kept  # exact dup must go
    assert len(kept) <= 4


def test_ngram_jaccard_pairs(docs):
    from iceberg_python_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, "doc_id", "text", 0.99).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0


def test_simhash_close_for_similar(docs, spark):
    from iceberg_python_spark.operators.dedup import simhash

    out = {r.doc_id: r.simhash for r in simhash(docs.select("doc_id", "text"), "text").collect()}
    assert out[1] == out[2]  # identical text -> identical simhash
    ham_14 = bin(out[1] ^ out[4]).count("1")
    ham_15 = bin(out[1] ^ out[5]).count("1")
    assert ham_14 < ham_15  # near-dup closer than unrelated


def test_jaccard_prefix_join_matches_bruteforce(spark):
    from iceberg_python_spark.operators.dedup import jaccard_prefix_join, ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = []
    for i in range(40):
        words = base.split()
        words[i % len(words)] = f"w{i % 7}"
        rows.append((i, " ".join(words)))
    rows += [(100, "completely different text about spark distributed joins"),
             (101, "completely different text about spark distributed joins"),
             (102, ""), (103, "")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    fast = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in jaccard_prefix_join(df, "doc_id", "text", 0.8).collect()}
    brute = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.8).collect()}
    assert fast == brute and len(brute) > 0


def test_simhash_candidates_skew_guard(spark):
    from iceberg_python_spark.operators.dedup import simhash_candidates

    # 1000 docs with identical simhash: without the bucket cap this is a
    # ~500k-pair self-join on one reducer; with it, the hot bucket drops.
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(0xDEADBEEF).cast("long").alias("simhash")
    )
    assert simhash_candidates(df, "doc_id", max_bucket_size=100).count() == 0
    # small clusters under the cap still pair
    small = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit(42).cast("long").alias("simhash")
    )
    assert simhash_candidates(small, "doc_id", max_bucket_size=100).count() == 6


def test_embedding_neardup(spark):
    from iceberg_python_spark.operators.dedup import embedding_neardup_pairs

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], "a"),
            (2, [0.999, 0.04, 0.0], "a"),  # ~same direction
            (3, [0.0, 1.0, 0.0], "a"),
            (4, [1.0, 0.0, 0.0], "b"),  # same vector, different block
        ],
        "id: long, v: array<float>, blk: string",
    )
    pairs = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(df, "id", "v", ["blk"], 0.95).collect()}
    assert (1, 2) in pairs
    assert all(4 not in p for p in pairs)  # blocking respected


def test_brute_force_topk(spark):
    from iceberg_python_spark.operators.similarity import brute_force_cosine_topk

    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)], "vec_id: long, emb: array<float>"
    )
    q = spark.createDataFrame([(0, [1.0, 0.1, 0.0, 0.0])], "query_id: long, emb: array<float>")
    out = brute_force_cosine_topk(corpus, q, "vec_id", "emb", k=2).collect()
    assert out[0].vec_id == 0 and out[0].rank == 1
    assert out[1].vec_id == 1 and out[1].rank == 2


def test_lsh_ann_recall(spark):
    from iceberg_python_spark.operators.similarity import brute_force_cosine_topk, lsh_ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    approx = lsh_ann_topk(emb, q, "vec_id", "embedding", k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    # self-match must always be found (bucket identical), recall sane
    for qid, s in approx_sets.items():
        assert qid in s
        assert len(s & exact_sets[qid]) >= 1


def test_token_stats(spark):
    from iceberg_python_spark.operators.text import token_stats

    df = spark.createDataFrame([(1, "Hello, world 42!"), (2, "")], "doc_id: long, text: string")
    out = {r.doc_id: r for r in token_stats(df, "text", "doc_id").collect()}
    assert out[1].n_ws_tokens == 3
    assert out[1].n_bpe_tokens == 5  # Hello / , / world / 42 / !
    assert out[2].n_ws_tokens == 0


def test_language_id(spark):
    from iceberg_python_spark.operators.text import language_id

    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "le chat est dans la maison et il est un"),
            (3, "der Hund ist ein gutes Tier und die Katze"),
            (4, "你好世界这是一个测试文档"),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r.lang_guess for r in language_id(df, "text", "doc_id").collect()}
    assert out[1] == "en" and out[2] == "fr" and out[3] == "de" and out[4] == "zh"


def test_fingerprint_winnowing_robust_to_suffix(spark):
    from iceberg_python_spark.operators.text import fingerprint

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame([(1, base), (2, base + " different ending here")], "doc_id: long, text: string")
    out = {r.doc_id: set(r.winnow_fp) for r in fingerprint(df, "text", "doc_id").collect()}
    overlap = len(out[1] & out[2]) / len(out[1] | out[2])
    assert overlap > 0.5  # shared prefix -> heavy fingerprint overlap


def test_multimodal_features(spark):
    """Byte-identity plumbing survives undecodable payloads: the REAL
    extract_image_features keeps n_bytes/sha256 with decode_ok=false
    naming the problem; the quarantined *_stub twins still exercise the
    schema/batch shape for codec-less pipelines."""
    from iceberg_python_spark.operators.multimodal import (
        extract_image_features,
        extract_image_features_stub,
        sample_video_frames_stub,
    )

    df = spark.createDataFrame([(1, "payload one"), (2, "two")], "doc_id: long, text: string").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    out = {r.id: r for r in extract_image_features(df, "doc_id", "payload", dim=8).collect()}
    assert out[1].n_bytes == 11 and not out[1].decode_ok and out[1].features is None
    assert "magic" in out[1].error or "Error" in out[1].error
    import hashlib

    assert out[2].sha256 == hashlib.sha256(b"two").hexdigest()
    stub = {r.id: r for r in extract_image_features_stub(df, "doc_id", "payload", dim=8).collect()}
    assert len(stub[1].features) == 8  # digest-fake vector, schema-only evidence
    frames = sample_video_frames_stub(df, "doc_id", "payload").collect()
    assert len(frames) >= 2


def test_extract_image_features_real_thumbnail_embedding(spark):
    """The r11 real featurizer: features are the decoded grayscale
    thumbnail in [-1,1] — identical images (even across PNG/JPEG
    encodes) land near each other in cosine space, unrelated ones
    don't."""
    import numpy as np

    from iceberg_python_spark.operators.imaging import encode_png
    from iceberg_python_spark.operators.jpeg import encode_jpeg
    from iceberg_python_spark.operators.multimodal import extract_image_features

    rng = np.random.default_rng(11)
    a = np.kron(rng.integers(0, 256, (4, 4, 3)), np.ones((8, 8, 1))).astype(np.uint8)
    b = np.kron(rng.integers(0, 256, (4, 4, 3)), np.ones((8, 8, 1))).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png(a))),
        (2, bytearray(encode_jpeg(a, 95))),  # same content, different codec
        (3, bytearray(encode_png(b))),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    out = {r.id: np.array(r.features) for r in extract_image_features(df, "doc_id", "payload").collect()}

    def cos(x, y):
        return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))

    assert all(len(v) == 16 for v in out.values())
    assert cos(out[1], out[2]) > 0.99  # codec-invariant
    assert cos(out[1], out[3]) < 0.9  # distinct content separates


def test_dedup_against_lsh_index(spark):
    """Incremental crawl dedup: exact re-crawls of indexed docs are
    always flagged (identical signatures), disjoint-vocabulary novel
    docs survive and extend the index; equivalence with a from-scratch
    joint run holds."""
    from iceberg_python_spark.operators.dedup import dedup_against_lsh_index, lsh_index

    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i}t{j}" for j in range(30))) for i in range(20)],
        "doc_id: long, text: string",
    )
    idx = lsh_index(corpus, "doc_id", "text").localCheckpoint(eager=True)
    assert idx.count() == 20 * 8  # 8 bands per doc
    recrawl = corpus.where("doc_id < 7").withColumn("doc_id", F.col("doc_id") + 1000)
    novel = spark.createDataFrame(
        [(2000 + i, " ".join(f"n{i}q{j}" for j in range(30))) for i in range(5)],
        "doc_id: long, text: string",
    )
    res = dedup_against_lsh_index(recrawl.unionByName(novel), idx, "doc_id", "text")
    flagged = {r.doc_id for r in res["flagged"].collect()}
    surv = {r.doc_id for r in res["survivors"].collect()}
    assert flagged == {1000 + i for i in range(7)}  # every exact copy caught
    assert surv == {2000 + i for i in range(5)}     # disjoint vocab survives
    # the delta covers exactly the survivors, ready to append to the index
    assert {r.doc_id for r in res["index_delta"].collect()} == surv
    # appending the delta makes a re-crawl of the NOVEL docs get caught
    idx2 = idx.unionByName(res["index_delta"])
    res2 = dedup_against_lsh_index(
        novel.withColumn("doc_id", F.col("doc_id") + 9000), idx2, "doc_id", "text"
    )
    assert res2["survivors"].count() == 0


def test_extract_image_stats_real_decode(spark):
    """Real PNG/PPM/BMP decode inside mapInPandas: exact dimensions,
    channel means, pHash equality for duplicate pixels, per-row error
    capture for undecodable payloads."""
    import numpy as np

    from iceberg_python_spark.operators.imaging import encode_png, encode_ppm
    from iceberg_python_spark.operators.multimodal import extract_image_stats

    rng = np.random.default_rng(7)
    img_a = rng.integers(0, 256, (12, 17, 3), dtype=np.uint8)
    img_b = rng.integers(0, 256, (9, 9, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_png(img_a))),
        (2, bytearray(encode_png(img_a))),   # duplicate pixels, same bytes
        (3, bytearray(encode_ppm(img_a))),   # same pixels, different container
        (4, bytearray(encode_png(img_b))),
        (5, bytearray(b"\xff\xd8\xff not actually jpeg")),  # undecodable
    ]
    df = spark.createDataFrame(rows, "doc_id: long, payload: binary")
    out = {r.id: r for r in extract_image_stats(df, "doc_id", "payload").collect()}
    assert (out[1].width, out[1].height, out[1].channels) == (17, 12, 3)
    assert abs(out[1].channel_means[0] - float(img_a[:, :, 0].mean())) < 1e-9
    assert out[1].phash == out[2].phash == out[3].phash  # container-independent
    assert out[1].phash != out[4].phash
    # JPEG-magic garbage now reaches the real JPEG decoder (r11) and
    # surfaces as a per-row corrupt-stream error, not a codec gate
    assert out[1].decode_ok and not out[5].decode_ok and "corrupt JPEG" in out[5].error


def test_windowed_event_counts_batch(spark):
    from iceberg_python_spark.streaming import windowed_event_counts

    ev = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 00:50:00", "a", 2.0), ("2024-01-01 01:10:00", "a", 4.0)],
        "ts: string, event_type: string, value: double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(r.window_start.hour): (r.n_events, r.sum_value) for r in windowed_event_counts(ev).collect()}
    assert out[0] == (2, 3.0) and out[1] == (1, 4.0)


def test_streaming_append_foreachbatch(spark, catalog, tmp_path):
    from iceberg_python_spark.schema import schema_from_spark
    from iceberg_python_spark.streaming import append_stream

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id: long, v: double")
    schema = schema_from_spark(df.schema)
    t = catalog.create_table("db.stream_sink", schema)
    src = str(tmp_path / "stream_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = append_stream(stream, t, str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    t.refresh()
    assert t.scan().count() == 100
    assert t.current_snapshot().summary.get("streaming-batch-id") == "0"


def test_ivf_ann_full_probe_exact_and_recall(spark):
    """nprobe == n_centroids makes IVF scan every cell -> must reproduce
    brute force exactly (same rounding + tiebreak); a partial probe keeps
    high recall and always finds the self-match (its own cell is probed
    first)."""
    from iceberg_python_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_ann_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    cents = train_ivf_centroids(emb, "embedding", n_centroids=16, sample_size=500, seed=13)
    assert cents.shape[0] == 16

    exact = brute_force_cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    full = ivf_ann_topk(
        emb, q, "vec_id", "embedding", k=5, nprobe=16, centroids=cents
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted((r.query_id, r.rank, r.vec_id, r.cos) for r in exact) == sorted(
        (r.query_id, r.rank, r.vec_id, r.cos) for r in full
    )

    approx = ivf_ann_topk(emb, q, "vec_id", "embedding", k=5, nprobe=4, centroids=cents).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hits = total = 0
    for qid, s in exact_sets.items():
        assert qid in approx_sets[qid]  # self-match always found
        hits += len(approx_sets[qid] & s)
        total += len(s)
    assert hits / total >= 0.5, (hits, total)


def test_connected_components(spark):
    """Two chains + a triangle; component label = min reachable node.
    Both execution paths (driver union-find fast path and distributed
    hash-min propagation) must agree with the hand fixpoint."""
    from iceberg_python_spark.operators.dedup import connected_components

    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a: long, id_b: long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    fast = {r.node: r.component_id for r in connected_components(edges).collect()}
    dist = {
        r.node: r.component_id
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert fast == want and dist == want


def test_hash_stratified_sample(spark):
    """Deterministic: same sample twice; rates roughly honored; salt
    decorrelates; rate mapping matches the hex-threshold helper."""
    from iceberg_python_spark.operators.sampling import (
        hash_stratified_sample,
        rate_to_hex_threshold,
    )

    assert rate_to_hex_threshold(0.0) == "00000000"
    # rate 1.0 must be keep-ALL under the strict '<' — 'g' sorts above
    # every hex digest ('ffffffff' would drop keys hashing exactly there)
    assert rate_to_hex_threshold(1.0) == "g"
    assert rate_to_hex_threshold(0.999999999) <= "ffffffff"
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).cast("string").alias("s")
    )
    rates = {"true": 0.5, "false": 0.1}
    s1 = hash_stratified_sample(df, "s", "k", rates)
    s2 = hash_stratified_sample(df, "s", "k", rates)
    ids1 = sorted(r.k for r in s1.collect())
    assert ids1 == sorted(r.k for r in s2.collect())  # deterministic
    n_true = s1.where("s = 'true'").count()
    n_false = s1.where("s = 'false'").count()
    assert abs(n_true / 2000 - 0.5) < 0.05, n_true
    assert abs(n_false / 2000 - 0.1) < 0.05, n_false
    salted = sorted(r.k for r in hash_stratified_sample(df, "s", "k", rates, salt="v2").collect())
    assert salted != ids1  # different split under a different salt


from hypothesis import given, settings, strategies as st


@st.composite
def _edge_lists(draw):
    n_nodes = draw(st.integers(min_value=2, max_value=12))
    n_edges = draw(st.integers(min_value=1, max_value=18))
    edge = st.tuples(
        st.integers(min_value=0, max_value=n_nodes - 1),
        st.integers(min_value=0, max_value=n_nodes - 1),
    )
    return [e for e in draw(st.lists(edge, min_size=n_edges, max_size=n_edges)) if e[0] != e[1]]


def _bfs_components(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            nxt = [v for u in frontier for v in adj[u] if v not in comp]
            comp.update(nxt)
            frontier = nxt
        root = min(comp)
        for v in comp:
            label[v] = root
    return label


@given(_edge_lists())
@settings(max_examples=15, deadline=None)
def test_connected_components_matches_bfs(spark, edges):
    """Property: union-find fast path == plain BFS reference on random
    graphs (self-loops removed; duplicate and reversed edges allowed)."""
    from iceberg_python_spark.operators.dedup import connected_components

    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {r.node: r.component_id for r in connected_components(df).collect()}
    assert got == _bfs_components(edges)


def test_hash_sample_rate_one_keeps_all(spark):
    """rate=1.0 is exactly keep-all (ADVICE r5: the strict '<' against
    'ffffffff' silently dropped ~2^-32 of keys)."""
    from iceberg_python_spark.operators.sampling import hash_stratified_sample

    df = spark.range(5000).select(F.col("id").alias("k"), F.lit("s").alias("s"))
    assert hash_stratified_sample(df, "s", "k", {"s": 1.0}).count() == 5000


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iter must fail loudly, not return wrong
    component ids (ADVICE r5)."""
    import pytest

    from iceberg_python_spark.operators.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a: long, id_b: long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_threshold=0, max_iter=2).collect()
    # and a max_iter that covers the eccentricity still converges
    got = {
        r.node: r.component_id
        for r in connected_components(chain, driver_threshold=0, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(7)}


def test_zorder_nan_column(spark):
    """NaN rows rank to the top bucket instead of poisoning the scale
    (ADVICE r5: NaN min/max made every rank collapse to max_rank)."""
    from iceberg_python_spark.zorder import with_zorder_key

    df = spark.createDataFrame(
        [(0.0, 1.0), (50.0, 2.0), (100.0, 3.0), (float("nan"), 4.0)], "x: double, y: double"
    )
    rows = {r.y: r._zkey for r in with_zorder_key(df, ["x", "y"], bits=8).collect()}
    # non-NaN x values must still spread across distinct z-keys
    assert len({rows[1.0], rows[2.0], rows[3.0]}) == 3
    # the NaN row ranks x to the top bucket: its key is the largest
    assert rows[4.0] == max(rows.values())


def test_hash_sample_monotone_nesting(spark):
    """Raising the keep-rate only ADDS rows (threshold monotonicity):
    the r=0.1 sample is a subset of r=0.3 which is a subset of r=0.8 —
    the property that makes deterministic train/holdout splits stable
    as sampling budgets change."""
    from iceberg_python_spark.operators.sampling import hash_stratified_sample

    df = spark.range(3000).select(F.col("id").alias("k"), F.lit("s").alias("g"))
    prev: set = set()
    for rate in (0.1, 0.3, 0.8):
        cur = {r.k for r in hash_stratified_sample(df, "g", "k", {"s": rate}).collect()}
        assert prev <= cur, f"rate {rate} lost rows from a smaller sample"
        prev = cur
    assert 0 < len(prev) < 3000


def test_pii_redact(spark):
    from iceberg_python_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c_d@sub.example.org now"),
            (2, "ssn 123-45-6789 phone 555 123 4567 ip 192.168.1.254"),
            (3, "no pii; placeholder <EMAIL> stays untouched"),
            (4, "two mails x@y.io z@w.co and 1.2.3.4"),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r for r in pii_redact(df, "text", "doc_id").collect()}
    assert out[1].text == "mail <EMAIL> now" and out[1].n_email == 1
    assert out[2].text == "ssn <SSN> phone <PHONE> ip <IP>"
    assert (out[2].n_ssn, out[2].n_phone, out[2].n_ipv4) == (1, 1, 1)
    assert out[3].text == "no pii; placeholder <EMAIL> stays untouched"
    assert out[4].n_email == 2 and out[4].n_ipv4 == 1
    # SSN pattern wins over phone on the dashed form (applied first)
    assert out[2].n_phone == 1


def test_repetition_stats(spark):
    from iceberg_python_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),            # bigram "a b" 3x of 5 -> 0.6
            (2, "x\nx\nx\ny"),             # 4 lines, 2 distinct
            (3, "all distinct words here"),
            (4, ""),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert out[1].top_bigram_count == 3 and out[1].n_bigrams == 5
    assert abs(out[1].top_bigram_frac - 0.6) < 1e-9
    assert abs(out[2].dup_line_ratio - 0.5) < 1e-9
    assert out[3].top_bigram_count == 1
    assert out[4].n_bigrams == 0 and out[4].top_bigram_count == 0


def test_connected_components_long_chain_converges_fast(spark):
    """Pointer doubling: a 200-node path graph must converge in O(log n)
    rounds — plain hash-min would need ~200 and hit max_iter."""
    from iceberg_python_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a: long, id_b: long"
    )
    out = connected_components(edges, max_iter=12, driver_threshold=0)
    rows = out.collect()
    assert len(rows) == 201
    assert {r.component_id for r in rows} == {0}


def test_strip_html(spark):
    from iceberg_python_spark.operators.text import strip_html

    df = spark.createDataFrame(
        [
            (1, "<html><style>p{c:red}</style><p>Hello &amp; welcome</p><script>var x=1;</script><b>bold</b></html>"),
            (2, "no markup &lt;kept&gt; here"),
            (3, "<SCRIPT a=b>nested <b>tags</b> die</SCRIPT>after"),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r.text for r in strip_html(df, "text", "doc_id").collect()}
    assert out[1] == "Hello & welcome bold"
    assert out[2] == "no markup <kept> here"
    assert out[3] == "after"


def test_paragraph_dedup(spark):
    from iceberg_python_spark.operators.text import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "unique paragraph one is long enough\nCOMMON FOOTER REPEATED EVERYWHERE HERE\nok"),
            (2, "another unique paragraph also long\nCOMMON FOOTER REPEATED EVERYWHERE HERE\nok"),
            (3, "COMMON FOOTER REPEATED EVERYWHERE HERE"),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r.text for r in paragraph_dedup(docs, "text", "doc_id").collect()}
    # footer survives only at its first occurrence; short 'ok' is exempt
    assert out[1].count("COMMON FOOTER") == 1
    assert "COMMON FOOTER" not in out[2] and out[2].endswith("ok")
    assert out[3] == ""  # fully deduplicated doc still present


def test_pack_sequences_invariants(spark):
    """Packing layout: offsets are a dense token interval, sequence
    assignment is consistent with offsets, and the plan is a pure
    function of content — repartitioned input gives the identical
    layout (distributed prefix sum == serial cumsum)."""
    from iceberg_python_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(1 + (i * 7) % 23))) for i in range(200)],
        "doc_id: long, text: string",
    )
    out = pack_sequences(docs, "text", "doc_id", seq_len=64).toPandas().sort_values("start_offset")
    # dense interval: each doc starts where the previous ended
    assert out.iloc[0].start_offset == 0
    ends = (out.start_offset + out.n_tokens).tolist()
    assert out.start_offset.tolist()[1:] == ends[:-1]
    # seq assignment matches offsets
    assert (out.seq_id == out.start_offset // 64).all()
    assert (out.offset_in_seq == out.start_offset % 64).all()
    crosses = (out.start_offset + out.n_tokens - 1) // 64 > out.seq_id
    assert (out.crosses_boundary == (crosses & (out.n_tokens > 0))).all()
    # determinism under physical reshuffle
    out2 = (
        pack_sequences(docs.repartition(13), "text", "doc_id", seq_len=64)
        .toPandas()
        .sort_values("start_offset")
    )
    assert out2.reset_index(drop=True).equals(out.reset_index(drop=True))


def test_mixture_sample_budgets_and_nesting(spark):
    """Budget semantics (overshoot at most one doc per stratum) and
    monotone nesting: a larger budget keeps a superset."""
    from iceberg_python_spark.operators.packing import mixture_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", " ".join("w" for _ in range(10 + i % 5))) for i in range(150)],
        "doc_id: long, source: string, text: string",
    )
    small = mixture_sample(docs, "source", "doc_id", "text", {"s0": 100, "s1": 200}).toPandas()
    # only budgeted strata present
    assert set(small.source) <= {"s0", "s1"}
    for src, budget in (("s0", 100), ("s1", 200)):
        tok = small[small.source == src].n_tokens
        assert tok.sum() >= budget  # budget filled
        assert tok.sum() - tok.max() < budget  # minus its last doc it's under
    big = mixture_sample(docs, "source", "doc_id", "text", {"s0": 300, "s1": 200}).toPandas()
    assert set(small[small.source == "s0"].doc_id) <= set(big[big.source == "s0"].doc_id)
    assert set(small[small.source == "s1"].doc_id) == set(big[big.source == "s1"].doc_id)


def test_pack_sequences_plan_no_global_window(spark):
    """The prefix sum must not run through a single unpartitioned window:
    every Window node in the optimized plan carries a partition key."""
    from iceberg_python_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame([(1, "a b c"), (2, "d e")], "doc_id: long, text: string")
    plan = pack_sequences(docs, "text", "doc_id", seq_len=8)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            # partition columns appear before the ORDER in the spec; an
            # empty partition list renders as 'windowspecdefinition(_h'
            # (order expr first) — reject that shape unless it's the
            # 256-row bucket-offsets window (partitioned data is absent
            # there: it orders by _bkt over the tiny aggregate)
            assert "_bkt" in line


def test_mixture_sample_epochs(spark):
    """allow_repeats: a budget above the stratum's total repeats it in
    whole epochs + a deterministic partial; epoch 0 equals the
    no-repeats selection at the same sub-total budget rule."""
    from iceberg_python_spark.operators.packing import mixture_sample

    docs = spark.createDataFrame(
        [(i, "s0" if i < 20 else "s1", " ".join("w" for _ in range(10))) for i in range(60)],
        "doc_id: long, source: string, text: string",
    )
    # s0 total = 200 tokens; budget 520 = 2 full epochs + 120-token partial
    out = mixture_sample(
        docs, "source", "doc_id", "text", {"s0": 520, "s1": 100}, allow_repeats=True
    ).toPandas()
    s0 = out[out.source == "s0"]
    assert set(s0.epoch) == {0, 1, 2}
    # full epochs carry every s0 doc
    assert len(s0[s0.epoch == 0]) == 20 and len(s0[s0.epoch == 1]) == 20
    # partial epoch: 120 tokens -> 12 docs of 10 tokens
    assert len(s0[s0.epoch == 2]) == 12
    assert s0.n_tokens.sum() == 520
    # partial-epoch docs are a prefix of the full-epoch ordering (nested)
    assert set(s0[s0.epoch == 2].doc_id) <= set(s0[s0.epoch == 0].doc_id)
    # s1: sub-epoch budget behaves exactly like allow_repeats=False + epoch 0
    s1 = out[out.source == "s1"]
    assert set(s1.epoch) == {0}
    base = mixture_sample(docs, "source", "doc_id", "text", {"s1": 100}).toPandas()
    assert set(s1.doc_id) == set(base.doc_id)


def test_ngram_lm_perplexity(spark):
    """Hand-checkable corpus: 'a b' dominates, so docs made of 'a b'
    bigrams score low perplexity; a doc with a one-off bigram scores
    higher. Values verified against the closed-form add-k formula."""
    from iceberg_python_spark.operators.text import ngram_lm_perplexity

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b"), (3, "z q"), (4, "solo"), (5, "")],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r for r in ngram_lm_perplexity(df, "text", "doc_id").collect()}
    # <2 tokens -> no bigram -> excluded
    assert 4 not in out and 5 not in out
    # corpus bigrams: (a,b)x4, (b,a)x2, (z,q)x1 ; vocab {a,b,z,q,solo} V=5
    # contexts: c1(a)=4, c1(b)=2, c1(z)=1 ; k=0.5
    p_b_a = (4 + 0.5) / (4 + 0.5 * 5)
    p_a_b = (2 + 0.5) / (2 + 0.5 * 5)
    p_q_z = (1 + 0.5) / (1 + 0.5 * 5)
    h1 = -(3 * math.log(p_b_a) + 2 * math.log(p_a_b)) / 5 / math.log(2)
    assert out[1].n_bigrams == 5
    assert abs(out[1].cross_entropy_bits - h1) < 1e-9
    assert abs(out[1].ppl - 2**h1) < 1e-6
    h3 = -math.log(p_q_z) / math.log(2)
    assert abs(out[3].cross_entropy_bits - h3) < 1e-9
    # the common-bigram doc is more predictable than the rare-bigram doc
    assert out[2].cross_entropy_bits < out[3].cross_entropy_bits


def test_pq_ann_full_rerank_exact_and_recall(spark):
    """A rerank window covering the whole corpus makes PQ a pure
    candidate-reorder -> must reproduce brute force exactly (same
    rounding + tiebreak). At the production rerank factor the recall
    stays above the driver row's bound and every query finds itself
    (a vector's own code maximizes its ADC score up to quantization)."""
    from iceberg_python_spark.operators.similarity import (
        brute_force_cosine_topk,
        pq_ann_topk,
        train_pq_codebooks,
        with_pq_code,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    q = emb.where("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    books = train_pq_codebooks(emb, "embedding", m=8, nbits=4, sample_size=500, seed=7)
    assert books.shape == (8, 16, 8)

    # codes are m ints in [0, 2^nbits)
    codes = with_pq_code(emb.select("vec_id", "embedding"), "embedding", books).select("code").head(5)
    for r in codes:
        assert len(r.code) == 8 and all(0 <= c < 16 for c in r.code)

    exact = brute_force_cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    full = pq_ann_topk(
        emb, q, "vec_id", "embedding", k=5, rerank_factor=(n // 5) + 1, codebooks=books
    ).collect()
    assert sorted((r.query_id, r.rank, r.vec_id, r.cos) for r in exact) == sorted(
        (r.query_id, r.rank, r.vec_id, r.cos) for r in full
    )

    approx = pq_ann_topk(emb, q, "vec_id", "embedding", k=5, rerank_factor=8, codebooks=books).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hits = total = 0
    for qid, s in exact_sets.items():
        assert qid in approx_sets[qid]
        hits += len(s & approx_sets[qid])
        total += len(s)
    assert hits / total >= 0.5


def test_chunk_documents(spark):
    from iceberg_python_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy"), (3, "")], "doc_id: long, text: string"
    )
    out = chunk_documents(df, "text", "doc_id", max_chars=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_start, r.chunk_text, r.n_chunks))
    # stride 2 over 10 chars -> starts 0,2,4,6,8
    assert by_doc[1] == [
        (0, 0, "abcd", 5), (1, 2, "cdef", 5), (2, 4, "efgh", 5), (3, 6, "ghij", 5), (4, 8, "ij", 5),
    ]
    assert by_doc[2] == [(0, 0, "xy", 1)]
    assert 3 not in by_doc  # empty doc -> no chunks
    # overlap property: consecutive chunks share `overlap` chars
    for (c0, s0, t0, _), (c1, s1, t1, _) in zip(by_doc[1], by_doc[1][1:]):
        assert t0[-2:] == t1[:2] or len(t1) < 2
    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", max_chars=4, overlap=4)


def test_quality_deciles(spark):
    """Threshold binning over a known distribution: buckets are ordered
    with approximately equal populations and identical scores always
    share a bucket; the plan carries no global-order window."""
    from iceberg_python_spark.operators.text import quality_deciles

    df = spark.createDataFrame([(i, float(i % 100)) for i in range(1000)], "id: long, s: double")
    out = quality_deciles(df, "s", "id", n_buckets=10).collect()
    by_bucket = {}
    score_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r.s)
        assert score_bucket.setdefault(r.s, r.bucket) == r.bucket  # ties share buckets
    assert set(by_bucket) == set(range(1, 11))
    for b in range(1, 10):
        assert max(by_bucket[b]) <= min(by_bucket[b + 1])
    sizes = sorted(len(v) for v in by_bucket.values())
    assert sizes[0] >= 50 and sizes[-1] <= 200  # roughly balanced
    plan = quality_deciles(df, "s", "id")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "decile binning must not use a global-order window"

    # default mode is the bounded-state GK sketch (safe on continuous
    # scores at scale); exact=True switches to the value->count
    # percentile aggregate (interpolated cut points, for oracle rows)
    approx_plan = quality_deciles(df, "s", "id")._jdf.queryExecution().analyzed().toString()
    assert "approx_percentile" in approx_plan
    exact_plan = quality_deciles(df, "s", "id", exact=True)._jdf.queryExecution().analyzed().toString()
    assert "percentile" in exact_plan and "approx_percentile" not in exact_plan
    exact_rows = quality_deciles(df, "s", "id", exact=True).collect()
    exact_sizes = {}
    for r in exact_rows:
        exact_sizes[r.bucket] = exact_sizes.get(r.bucket, 0) + 1
    assert set(exact_sizes) == set(range(1, 11))
    assert min(exact_sizes.values()) >= 50 and max(exact_sizes.values()) <= 200


def test_dataset_split(spark):
    """Content-stable splits: exhaustive + disjoint by construction,
    proportions near the requested fractions, assignment a pure function
    of the key (stable under re-computation and corpus growth), and a
    narrow no-shuffle plan."""
    from iceberg_python_spark.operators.sampling import dataset_split

    df = spark.range(5000).toDF("id")
    out = dataset_split(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"} and sum(counts.values()) == 5000
    assert 0.75 <= counts["train"] / 5000 <= 0.85
    assert 0.07 <= counts["val"] / 5000 <= 0.13
    # stability: recomputing on a subset gives identical labels
    first = {r.id: r["split"] for r in out.where("id < 100").collect()}
    again = {
        r.id: r["split"]
        for r in dataset_split(df.where("id < 100"), "id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }
    assert first == again
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="sum to 1"):
        dataset_split(df, "id", {"a": 0.5, "b": 0.6})


def test_duplicated_span_stats(spark):
    """Known geometry: doc 1 and 2 share an 8-token run (one island each,
    coverage 8+); doc 3 shares nothing; within-doc repetition alone does
    not count as duplication."""
    from iceberg_python_spark.operators.dedup import duplicated_span_stats

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"{shared} one two three four five six seven eight"),
        (2, f"zero {shared} nine ten eleven twelve thirteen"),
        (3, "совсем other words " + " ".join(f"w{i}" for i in range(12))),
        (4, "rep rep rep rep rep rep rep rep rep rep"),  # self-repeat only
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in duplicated_span_stats(df, "doc_id", "text", k=8).collect()}
    assert out[1].n_dup_grams == 1 and out[1].covered_tokens == 8
    assert out[2].n_dup_grams == 1 and out[2].covered_tokens == 8
    assert out[3].n_dup_grams == 0 and out[3].covered_tokens == 0
    assert out[4].n_dup_grams == 0  # same-doc repeats are not cross-doc
    # overlap merge: two docs sharing a 10-token run have 3 dup gram
    # starts but coverage 10 (union, not 3*8)
    long_shared = " ".join(f"s{i}" for i in range(10))
    df2 = spark.createDataFrame(
        [(1, long_shared + " tail1 tail2"), (2, "head1 " + long_shared)],
        "doc_id: long, text: string",
    )
    out2 = {r.doc_id: r for r in duplicated_span_stats(df2, "doc_id", "text", k=8).collect()}
    assert out2[1].n_dup_grams == 3 and out2[1].covered_tokens == 10
    assert out2[2].n_dup_grams == 3 and out2[2].covered_tokens == 10


def test_source_token_sketch(spark):
    """HLL++ distinct-token estimates land within the rsd bound of exact
    per-source counts; token totals are exact."""
    from iceberg_python_spark.operators.text import source_token_sketch

    rows = [(i, f"src{i % 3}", " ".join(f"tok{j} common" for j in range(i % 50 + 1))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    out = {r.source: r for r in source_token_sketch(df, "text", "source").collect()}
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    exact = {
        r.source: (r.nt, r.nd)
        for r in df.select("source", F.explode(toks).alias("tok"))
        .groupBy("source")
        .agg(F.count("*").alias("nt"), F.countDistinct("tok").alias("nd"))
        .collect()
    }
    for src, (nt, nd) in exact.items():
        assert out[src].n_tokens == nt
        assert abs(out[src].approx_distinct_tokens - nd) / nd <= 0.05
        assert out[src].n_docs == 100


def test_temperature_budgets_and_mixture(spark):
    """alpha<1 flattens the size distribution: the small source gets a
    larger budget share than its token share; budgets are integer-exact
    and sum to <= the total; the selection is the mixture_sample prefix."""
    from iceberg_python_spark.operators.packing import mixture_temperature, temperature_budgets

    totals = {"big": 90000, "small": 10000}
    b = temperature_budgets(totals, 10000, alpha=0.5)
    assert sum(b.values()) <= 10000
    # token shares: big 90%; sqrt weights: 300/(300+100) = 75%
    assert b["big"] / 10000 < 0.80 and b["small"] / 10000 > 0.20
    with pytest.raises(ValueError):
        temperature_budgets({}, 100)

    rows = [(i, "big" if i < 180 else "small", "tok " * 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    out = mixture_temperature(df, "source", "doc_id", "text", 4000, alpha=0.5)
    got = out.groupBy("source").agg(F.sum("n_tokens").alias("tok")).collect()
    tok = {r.source: r.tok for r in got}
    # each stratum lands within one doc (50 tokens) of its budget
    eb = temperature_budgets({"big": 9000, "small": 1000}, 4000, alpha=0.5)
    for s in ("big", "small"):
        assert eb[s] <= tok[s] < eb[s] + 50


def test_semantic_dedup(spark):
    """SemDeDup composition: exact-duplicate embeddings collapse to one
    kept doc; distinct directions all survive; kept ∪ dropped = all."""
    from iceberg_python_spark.operators.similarity import kmeans_cluster, semantic_dedup

    import math
    rows = []
    # 20 well-separated unit vectors + 3 exact copies of vector 0
    for i in range(20):
        a = i * math.pi / 40
        rows.append((i, [math.cos(a), math.sin(a), 0.0, 0.0]))
    for j, i in enumerate((100, 101, 102)):
        rows.append((i, rows[0][1]))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    kept = semantic_dedup(df, "vec_id", "embedding", n_clusters=4, threshold=0.999)
    ids = sorted(r.vec_id for r in kept.collect())
    assert 0 in ids and not any(i in ids for i in (100, 101, 102))
    assert set(range(1, 20)) <= set(ids)
    cl = kmeans_cluster(df, "embedding", n_clusters=4)
    assert cl.select("cluster").distinct().count() <= 4
    # identical embeddings share a cluster (so the blocked join sees them)
    c0 = {r.cluster for r in cl.where("vec_id in (0, 100, 101, 102)").collect()}
    assert len(c0) == 1


def test_gopher_quality_flags(spark):
    """Each published Gopher rule trips on a crafted document; a normal
    English paragraph passes all of them."""
    from iceberg_python_spark.operators.text import gopher_quality_flags

    good = (
        "The quick brown fox jumps over the lazy dog and runs far away. "
        "It is a fine day to be out in the field with friends and family. "
        "We have seen that simple sentences with common words pass these "
        "filters easily because they look like natural prose text written "
        "by people for people to read and enjoy every single day. "
        "That is the point of the rules and of this tiny fixture."
    )
    rows = [
        (1, good),
        (2, "too short"),  # word count
        (3, " ".join(["a"] * 80)),  # mean word len < 3
        (4, " ".join(["####"] * 60)),  # symbol ratio + alpha ratio
        (5, "\n".join(["- item one here"] * 20)),  # bullet lines
        (6, "\n".join(["we kept going..."] * 20)),  # ellipsis lines
        (7, " ".join(["12345"] * 80)),  # alpha ratio
        (8, " ".join(["zebra"] * 80)),  # stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in gopher_quality_flags(df, "text", "doc_id").collect()}
    assert out[1].keep, out[1]
    assert not out[2].word_count_ok
    assert not out[3].mean_word_len_ok
    assert not out[4].symbol_ratio_ok and not out[4].alpha_ratio_ok
    assert not out[5].bullet_ratio_ok
    assert not out[6].ellipsis_ratio_ok
    assert not out[7].alpha_ratio_ok
    assert not out[8].stopword_ok
    for i in range(2, 9):
        assert not out[i].keep


@given(
    st.dictionaries(
        st.text(alphabet="abcdef", min_size=1, max_size=4),
        st.integers(min_value=1, max_value=10**9),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=200, deadline=None)
def test_temperature_budgets_properties(totals, budget):
    """Properties: budgets are non-negative ints, never exceed the total,
    are monotone in the total, and alpha=0.5 compresses size ratios
    (the small source's SHARE never shrinks vs proportional)."""
    from iceberg_python_spark.operators.packing import temperature_budgets

    b = temperature_budgets(totals, budget, alpha=0.5)
    assert set(b) == set(totals)
    assert all(isinstance(v, int) and v >= 0 for v in b.values())
    assert sum(b.values()) <= budget
    bigger = temperature_budgets(totals, budget + 1000, alpha=0.5)
    assert all(bigger[s] >= b[s] for s in totals)
    if len(totals) >= 2 and budget > 0:
        small = min(totals, key=totals.get)
        total_n = sum(totals.values())
        prop_share = totals[small] / total_n
        temp_share = b[small] / budget
        assert temp_share >= prop_share - 1 / budget - 1e-9


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_rate_threshold_properties(rate):
    """rate_to_hex_threshold is monotone and inverts to the rate within
    2^-32; the keep-all sentinel sorts above every digest."""
    from iceberg_python_spark.operators.sampling import rate_to_hex_threshold

    thr = rate_to_hex_threshold(rate)
    if rate == 1.0:
        assert thr == "g" and thr > "f" * 8
    else:
        assert len(thr) == 8
        assert abs(int(thr, 16) / 2**32 - rate) <= 2 / 2**32
    for r2 in (rate / 2, rate):
        assert rate_to_hex_threshold(r2) <= thr


def _brute_span_stats(rows, k):
    import re

    grams = {}
    per_doc = {}
    for doc_id, text in rows:
        toks = [t for t in re.sub(r"[^a-z0-9\s]", " ", text.lower()).split() if t]
        if len(toks) < k:
            continue
        gs = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        per_doc[doc_id] = gs
        for g in gs:
            grams.setdefault(g, set()).add(doc_id)
    out = {}
    for doc_id, gs in per_doc.items():
        dup_pos = [i for i, g in enumerate(gs) if len(grams[g]) > 1]
        covered = 0
        if dup_pos:
            start = prev_end = None
            for p in dup_pos:
                if start is None or p > prev_end:
                    if start is not None:
                        covered += prev_end - start
                    start = p
                prev_end = p + k
            covered += prev_end - start
        out[doc_id] = (len(gs), len(dup_pos), covered)
    return out


@given(
    st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "x1"]), min_size=0, max_size=14),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=10, deadline=None)
def test_duplicated_span_stats_matches_bruteforce(spark, docs_tokens):
    """Property: the distributed gaps-and-islands coverage equals a
    plain-Python reference on random small corpora (shared runs arise
    naturally from the tiny vocabulary)."""
    from iceberg_python_spark.operators.dedup import duplicated_span_stats

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    want = _brute_span_stats(rows, k=3)
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.covered_tokens)
        for r in duplicated_span_stats(df, "doc_id", "text", k=3).collect()
    }
    assert got == want


def test_curate_corpus_pipeline(spark, tmp_path):
    """End-to-end curation: filters shrink monotonically, duplicates die
    at the right stages, splits partition, the mixture respects the
    budget, packing is dense — and with a catalog the artifacts land as
    engine tables. An all-filtered corpus yields empty artifacts, not a
    crash."""
    import iceberg_python_spark as ips
    from iceberg_python_spark.pipeline import curate_corpus

    def doc(i):
        # mostly-unique body (near-dup only when constructed) + enough
        # canonical stopwords to pass the Gopher gate
        return "the cat and dog is of note here " + " ".join(
            f"word{i}x{j}" for j in range(55)
        )

    rows = [(i, "srcA" if i % 2 else "srcB", doc(i)) for i in range(40)]
    rows.append((100, "srcA", doc(0)))  # exact duplicate of doc 0
    rows.append((101, "srcA", doc(0).replace("word0x7", "changed")))  # near-dup of doc 0
    rows.append((102, "srcA", "too short"))  # quality-gated
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")

    cat = ips.SqliteCatalog("pipe", str(tmp_path / "wh"), spark)
    res = curate_corpus(
        df, train_token_budget=2000, seq_len=128, catalog=cat, dest_prefix="db.cur"
    )
    st = res["stats"]
    assert st["input"] == 43
    assert st["after_quality"] == 42  # doc 102 gated
    assert st["after_exact_dedup"] == 41  # doc 100 deduped
    assert st["after_neardup"] == 40  # doc 101 near-deduped
    assert st["after_decontamination"] == 40
    assert sum(1 for _ in res["clean"].collect()) == 40
    toks = {r.doc_id: r.n_tokens for r in res["mixture"].collect()}
    assert sum(toks.values()) <= 2000 + 2 * max(toks.values())
    packed = res["packed"].collect()
    assert min(r.start_offset for r in packed) == 0
    assert max(r.start_offset + r.n_tokens for r in packed) == sum(r.n_tokens for r in packed)
    # artifacts are real engine tables
    assert cat.load_table("db.cur_clean").scan().to_df().count() == 40
    assert cat.load_table("db.cur_packed").scan().to_df().count() == len(packed)
    # determinism: re-running reproduces the mixture exactly
    res2 = curate_corpus(df, train_token_budget=2000, seq_len=128)
    assert {r.doc_id for r in res2["mixture"].collect()} == set(toks)

    # an all-filtered corpus produces empty artifacts, not a crash
    tiny = spark.createDataFrame([(1, "s", "nope")], "doc_id: long, source: string, text: string")
    res3 = curate_corpus(tiny)
    assert res3["stats"]["train"] == 0 and res3["packed"].count() == 0


def test_mixture_temperature_null_strata_total(spark):
    """mixture_temperature is total: all-NULL strata yield an empty
    schema-correct mixture (with the epoch column under repeats), and
    NULL-strata rows are dropped from a mixed corpus."""
    from iceberg_python_spark.operators.packing import mixture_temperature

    allnull = spark.createDataFrame(
        [(1, None, "some words here"), (2, None, "more words")],
        "doc_id: long, source: string, text: string",
    )
    out = mixture_temperature(allnull, "source", "doc_id", "text", 1000)
    assert out.count() == 0 and "n_tokens" in out.columns
    rep = mixture_temperature(allnull, "source", "doc_id", "text", 1000, allow_repeats=True)
    assert rep.count() == 0 and "epoch" in rep.columns
    mixed = spark.createDataFrame(
        [(1, None, "null row words"), (2, "s", "kept words here"), (3, "s", "more kept words")],
        "doc_id: long, source: string, text: string",
    )
    got = mixture_temperature(mixed, "source", "doc_id", "text", 1000)
    assert sorted(r.doc_id for r in got.collect()) == [2, 3]


@given(_edge_lists())
@settings(max_examples=10, deadline=None)
def test_connected_components_star_matches_bfs(spark, edges):
    """Property: the alternating large-star/small-star path (forced via
    driver_threshold=0) == BFS reference on random graphs."""
    from iceberg_python_spark.operators.dedup import connected_components

    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {
        r.node: r.component_id
        for r in connected_components(df, driver_threshold=0, algorithm="star").collect()
    }
    assert got == _bfs_components(edges)


def test_connected_components_star_long_chain(spark):
    """A 60-node chain converges in O(log^2 n) star rounds — far under a
    max_iter that plain per-round propagation could never meet without
    pointer doubling — and labels the whole chain with its min."""
    from iceberg_python_spark.operators.dedup import connected_components

    n = 60
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a: long, id_b: long")
    got = {
        r.node: r.component_id
        for r in connected_components(
            edges, driver_threshold=0, algorithm="star", max_iter=12
        ).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_bad_algorithm(spark):
    import pytest

    from iceberg_python_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(1, 2)], "id_a: long, id_b: long")
    with pytest.raises(ValueError, match="unknown connected-components algorithm"):
        connected_components(df, algorithm="bogus")


def test_remove_duplicated_spans(spark):
    """Lee et al. removal: the shared 8-token run disappears from BOTH
    docs, untouched docs keep their original text byte-for-byte
    (including odd whitespace), and token counts are conserved
    (n_after = n_tokens - n_removed_tokens)."""
    from iceberg_python_spark.operators.dedup import remove_duplicated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"{shared} one two three four five six seven eight"),
        (2, f"zero {shared} nine ten eleven twelve thirteen"),
        (3, "untouched  doc   with   odd   spacing " + " ".join(f"w{i}" for i in range(8))),
        (4, shared),  # fully covered -> becomes ""
        (5, "ALPHA BETA GAMMA DELTA EPSILON ZETA ETA THETA tail"),  # case-insensitive match
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df, "doc_id", "text", k=8).collect()}
    assert out[1].text == "one two three four five six seven eight"
    assert out[2].text == "zero nine ten eleven twelve thirteen"
    assert out[3].text == rows[2][1]  # original bytes, doubled spaces intact
    assert out[4].text == ""
    assert out[5].text == "tail"  # kept tokens spliced back verbatim...
    assert out[5].n_removed_tokens == 8
    for r in out.values():
        n_after = len(r.text.split()) if r.text.strip() else 0
        assert n_after == r.n_tokens - r.n_removed_tokens


def test_remove_duplicated_spans_min_span(spark):
    """min_span keeps islands below the cutoff: two docs sharing exactly
    one 8-token window are untouched at min_span=20 but cut at the
    default; a 25-token shared run is cut either way."""
    from iceberg_python_spark.operators.dedup import remove_duplicated_spans

    short = " ".join(f"s{i}" for i in range(8))
    long = " ".join(f"L{i}" for i in range(25))
    rows = [
        (1, f"{short} filler1 filler2 filler3"),
        (2, f"pre {short} post1 post2"),
        (3, f"{long} end1 end2"),
        (4, f"begin {long}"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    strict = {r.doc_id: r for r in remove_duplicated_spans(df, "doc_id", "text", k=8, min_span=20).collect()}
    assert strict[1].text == rows[0][1] and strict[1].n_removed_tokens == 0
    assert strict[2].text == rows[1][1]
    assert strict[3].text == "end1 end2" and strict[3].n_removed_tokens == 25
    assert strict[4].text == "begin"
    loose = {r.doc_id: r for r in remove_duplicated_spans(df, "doc_id", "text", k=8).collect()}
    assert loose[1].n_removed_tokens == 8 and loose[2].n_removed_tokens == 8


def test_remove_duplicated_spans_extra_columns_preserved(spark):
    """Non-text columns ride through unchanged and in the original
    column order; short docs (< k tokens) never match."""
    from iceberg_python_spark.operators.dedup import remove_duplicated_spans

    rows = [(1, "a b c", "s1"), (2, "a b c", "s2")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")
    out = remove_duplicated_spans(df, "doc_id", "text", k=8)
    assert out.columns == ["doc_id", "text", "source", "n_tokens", "n_removed_tokens"]
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].text == "a b c" and got[1].source == "s1" and got[1].n_removed_tokens == 0


def test_curate_corpus_stage_materialization(spark):
    """r17: stage checkpoints are lazy (the per-stage count is the job
    that materializes them) but every returned frame must still be a
    lineage-truncated checkpoint by the time curate_corpus returns —
    re-consuming it reads persisted blocks, not the upstream chain."""
    from iceberg_python_spark.pipeline import curate_corpus

    rows = [
        (i, "s", "the cat and dog is of note here " + " ".join(f"w{i}x{j}" for j in range(55)))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    res = curate_corpus(df, train_token_budget=500, seq_len=64)
    for name in ("clean", "mixture"):
        plan = res[name]._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan, f"{name} is not checkpoint-backed:\n{plan}"
        assert res[name].count() == res[name].count()
    assert res["clean"].count() == res["stats"]["after_decontamination"]


def test_curate_corpus_optional_stages(spark):
    """The three optional stages compose: model-based decile gate,
    span-level rewrite (row-preserving), benchmark decontamination at
    the 13-gram convention."""
    from iceberg_python_spark.pipeline import curate_corpus

    def doc(i):
        return "the cat and dog is of note here " + " ".join(
            f"word{i}x{j}" for j in range(55)
        )

    rows = [(i, "srcA" if i % 2 else "srcB", doc(i)) for i in range(40)]
    rows.append((100, "srcA", doc(0)))  # exact duplicate
    rows.append((101, "srcA", doc(0).replace("word0x7", "changed")))  # near-dup
    rows.append((102, "srcA", "too short"))  # rule-gated
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    bench = spark.createDataFrame([(9000, doc(5))], "doc_id: long, text: string")

    res = curate_corpus(
        df,
        benchmark_df=bench,
        quality_top_deciles=10,  # all deciles -> gate is a no-op
        span_removal_k=8,
        train_token_budget=2000,
        seq_len=128,
    )
    st = res["stats"]
    assert st["after_quality"] == 42 and st["after_model_quality"] == 42
    assert st["after_exact_dedup"] == 41 and st["after_neardup"] == 40
    # every surviving doc shared the exact 8-token stopword prefix ->
    # one 8-token island each, removed from all 40
    assert st["span_tokens_removed"] == 8 * 40
    # doc 5 shares 13-grams with the benchmark even after the rewrite
    assert st["after_decontamination"] == 39
    texts = {r.doc_id: r.text for r in res["clean"].collect()}
    assert 5 not in texts
    assert not texts[6].startswith("the cat") and texts[6].startswith("word6x0")

    # a selective decile gate actually drops docs and stays monotone
    res5 = curate_corpus(df, quality_top_deciles=5, train_token_budget=2000, seq_len=128)
    st5 = res5["stats"]
    assert 0 < st5["after_model_quality"] <= st5["after_quality"]
    assert st5["after_model_quality"] >= st5["after_exact_dedup"] >= st5["after_neardup"]


def test_dsir_importance_weights(spark):
    """DSIR sanity: raw docs resembling the target score higher than
    dissimilar docs; weights are finite; n_grams = 2*len-1."""
    from iceberg_python_spark.operators.sampling import dsir_importance_weights, dsir_select

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id: long, text: string",
    )
    raw = spark.createDataFrame(
        [
            (1, "the quick brown fox leaps over a lazy dog"),   # target-like
            (2, "quantum flux capacitors invert tachyon phase"),  # dissimilar
            (3, "the quick brown fox jumps over the lazy dog"),  # identical
        ],
        "doc_id: long, text: string",
    )
    w = {r.doc_id: r for r in dsir_importance_weights(raw, target, "text", "doc_id").collect()}
    assert w[3].dsir_weight > w[1].dsir_weight > w[2].dsir_weight
    assert w[3].n_grams == 2 * 9 - 1
    top = [r.doc_id for r in dsir_select(raw, target, "text", "doc_id", k=2).collect()]
    assert top == [3, 1]
    # gumbel mode is deterministic given the salt and returns k rows
    g1 = [r.doc_id for r in dsir_select(raw, target, "text", "doc_id", k=2, mode="gumbel", salt="s").collect()]
    g2 = [r.doc_id for r in dsir_select(raw, target, "text", "doc_id", k=2, mode="gumbel", salt="s").collect()]
    assert g1 == g2 and len(g1) == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown dsir mode"):
        dsir_select(raw, target, "text", "doc_id", k=1, mode="nope")


def test_curate_corpus_dsir_stage(spark):
    """The DSIR stage keeps exactly dsir_keep docs, drawn toward the
    target, and composes with the rest of the pipeline."""
    from iceberg_python_spark.pipeline import curate_corpus

    def doc(i, topic):
        stop = "the cat and dog is of note here "
        words = " ".join(f"{topic}{i}x{j} {topic}word{j}" for j in range(30))
        return stop + words

    rows = [(i, "web", doc(i, "alpha")) for i in range(20)]
    rows += [(100 + i, "web", doc(i, "beta")) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    target = spark.createDataFrame(
        [(900 + i, doc(50 + i, "beta")) for i in range(5)], "doc_id: long, text: string"
    )
    res = curate_corpus(df, dsir_target_df=target, dsir_keep=15, train_token_budget=2000, seq_len=128)
    st = res["stats"]
    assert st["after_dsir"] == 15
    kept = {r.doc_id for r in res["clean"].collect()}
    # beta-topic docs dominate the selection
    assert sum(1 for d in kept if d >= 100) > sum(1 for d in kept if d < 100)


def _brute_span_removal(rows, k):
    """Plain-Python reference for remove_duplicated_spans (default
    min_span): cross-doc k-gram starts -> merged islands -> splice."""
    grams = {}
    for doc_id, text in rows:
        toks = text.split()
        for i in range(max(len(toks) - k + 1, 0)):
            g = " ".join(toks[i : i + k]).lower()
            grams.setdefault(g, set()).add(doc_id)
    out = {}
    for doc_id, text in rows:
        toks = text.split()
        covered = set()
        for i in range(max(len(toks) - k + 1, 0)):
            g = " ".join(toks[i : i + k]).lower()
            if len(grams[g]) > 1:
                covered.update(range(i, i + k))
        kept = [t for i, t in enumerate(toks) if i not in covered]
        out[doc_id] = (" ".join(kept) if covered else text, len(covered))
    return out


@given(
    st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "x1"]), min_size=0, max_size=14),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=10, deadline=None)
def test_remove_duplicated_spans_matches_bruteforce(spark, docs_tokens):
    """Property: the distributed splice equals a plain-Python reference
    on random small corpora (heavy overlap from the tiny vocabulary)."""
    from iceberg_python_spark.operators.dedup import remove_duplicated_spans

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    want = _brute_span_removal(rows, k=3)
    got = {
        r.doc_id: (r.text, r.n_removed_tokens)
        for r in remove_duplicated_spans(
            spark.createDataFrame(rows, "doc_id: long, text: string"), "doc_id", "text", k=3
        ).collect()
    }
    assert got == want


def test_cap_per_group(spark):
    """Per-domain cap: at most N rows per group survive, selection is
    deterministic (same salt -> same set, different salt -> usually
    different), small groups pass through whole."""
    from iceberg_python_spark.operators.sampling import cap_per_group

    rows = [(i, "big" if i < 40 else "small", f"t{i}") for i in range(46)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    out = cap_per_group(df, "source", "doc_id", 10)
    by_src = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert by_src == {"big": 10, "small": 6}
    again = {r.doc_id for r in cap_per_group(df, "source", "doc_id", 10).collect()}
    assert again == {r.doc_id for r in out.collect()}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_per_group"):
        cap_per_group(df, "source", "doc_id", 0)


def test_curate_incremental(spark, tmp_path):
    """Incremental curation: only docs appended after the checkpoint are
    processed; cross-batch dedup drops new docs already in the curated
    corpus; the returned last_snapshot_id advances the checkpoint."""
    import iceberg_python_spark as ips
    from iceberg_python_spark.pipeline import curate_corpus, curate_incremental
    from iceberg_python_spark.schema import schema_from_spark

    def doc(i):
        return "the cat and dog is of note here " + " ".join(f"w{i}x{j}" for j in range(55))

    cat = ips.SqliteCatalog("inc", str(tmp_path / "wh"), spark)
    batch1 = spark.createDataFrame(
        [(i, "s", doc(i)) for i in range(10)], "doc_id: long, source: string, text: string"
    )
    t = cat.create_table("db.docs", schema_from_spark(batch1.schema))
    t.append(batch1)
    t = cat.load_table("db.docs")
    first = curate_incremental(t, train_token_budget=2000, seq_len=128)
    assert first["stats"]["new_docs"] == 10 and first["stats"]["input"] == 10
    ckpt = first["last_snapshot_id"]

    # batch 2: 5 genuinely new + 2 copies of already-curated docs
    batch2 = spark.createDataFrame(
        [(100 + i, "s", doc(100 + i)) for i in range(5)]
        + [(900, "s", doc(0)), (901, "s", doc(1))],
        "doc_id: long, source: string, text: string",
    )
    t.append(batch2)
    t = cat.load_table("db.docs")
    second = curate_incremental(
        t, from_snapshot_id=ckpt, existing_clean=first["clean"],
        train_token_budget=2000, seq_len=128,
    )
    st = second["stats"]
    assert st["new_docs"] == 7              # only the appended batch
    assert st["after_cross_batch_dedup"] == 5  # the two copies dropped
    assert st["input"] == 5
    assert second["last_snapshot_id"] != ckpt


def test_curate_corpus_source_cap_stage(spark):
    """max_docs_per_source caps each source before dedup and records
    the stage count."""
    from iceberg_python_spark.pipeline import curate_corpus

    def doc(i):
        return "the cat and dog is of note here " + " ".join(f"w{i}x{j}" for j in range(55))

    rows = [(i, "srcA" if i < 30 else "srcB", doc(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, text: string")
    res = curate_corpus(df, max_docs_per_source=8, train_token_budget=2000, seq_len=128)
    st = res["stats"]
    assert st["after_source_cap"] == 16  # 8 from each source
    srcs = {r[0]: r[1] for r in res["clean"].groupBy("source").count().collect()}
    assert all(v <= 8 for v in srcs.values())


def test_asof_join(spark):
    """Backward as-of: latest right row at or before each left ts per
    key; strict excludes equality; tolerance nulls stale matches;
    unmatched rows survive with NULLs."""
    from iceberg_python_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 15, "c"), (2, 7, "d"), (3, 9, "e")],
        "uid: long, t: long, tag: string",
    )
    right = spark.createDataFrame(
        [(1, 5, 100.0), (1, 12, 200.0), (2, 1, 300.0)], "uid: long, t: long, px: double"
    )
    out = {(r.uid, r.t): (r.t_matched, r.px) for r in asof_join(left, right, "t", by=["uid"]).collect()}
    assert out[(1, 5)] == (5, 100.0)     # inclusive <=
    assert out[(1, 10)] == (5, 100.0)
    assert out[(1, 15)] == (12, 200.0)
    assert out[(2, 7)] == (1, 300.0)
    assert out[(3, 9)] == (None, None)   # no right rows for key
    strict = {(r.uid, r.t): r.t_matched for r in asof_join(left, right, "t", by=["uid"], strict=True).collect()}
    assert strict[(1, 5)] is None        # equality excluded
    tol = {(r.uid, r.t): r.px for r in asof_join(left, right, "t", by=["uid"], tolerance=3).collect()}
    assert tol[(1, 5)] == 100.0 and tol[(1, 10)] is None and tol[(1, 15)] == 200.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, left.select("uid", "t", "tag"), "t", by=["uid"])


def test_asof_join_timestamps_and_plan(spark):
    """Timestamp columns work with seconds-based tolerance, and the plan
    contains NO BroadcastNestedLoopJoin (the shape the operator exists
    to avoid)."""
    from iceberg_python_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:30")], "uid: long, ts: string"
    ).select("uid", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7.0), (1, "2024-01-01 09:00:00", 5.0)],
        "uid: long, ts: string, v: double",
    ).select("uid", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = asof_join(left, right, "ts", by=["uid"], tolerance=60.0)
    row = out.first()
    assert row.v == 7.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    far = asof_join(left, right, "ts", by=["uid"], tolerance=10.0).first()
    assert far.v is None


def test_range_interval_join(spark):
    """Points land in half-open [start, end) intervals exactly once,
    across bucket boundaries; the end boundary is exclusive; no
    BroadcastNestedLoopJoin in the plan."""
    from iceberg_python_spark.operators.joins import range_interval_join

    pts = spark.createDataFrame(
        [(1, 0.5), (2, 10.0), (3, 25.0), (4, 30.0), (5, 99.0)], "pid: long, t: double"
    )
    iv = spark.createDataFrame(
        [(100, 0.0, 30.0), (200, 25.0, 35.0)], "iid: long, s: double, e: double"
    )
    out = range_interval_join(pts, "t", iv, "s", "e", bucket_width=10.0)
    pairs = {(r.pid, r.iid) for r in out.collect()}
    # t=30 is NOT in [0,30) but IS in [25,35); t=25 is in both
    assert pairs == {(1, 100), (2, 100), (3, 100), (3, 200), (4, 200)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=25),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=25),
)
@settings(max_examples=10, deadline=None)
def test_asof_join_matches_pandas(spark, lrows, rrows):
    """Property: asof_join == pandas.merge_asof (backward, exact matches
    allowed, by key) on random integer frames. Right (key, ts) pairs are
    deduped first — the documented as-of precondition."""
    import pandas as pd

    from iceberg_python_spark.operators.joins import asof_join

    rdedup = {}
    for i, (k, t) in enumerate(rrows):
        rdedup[(k, t)] = i * 10  # deterministic payload
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lrows)], "lid: long, k: long, t: long"
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in sorted(rdedup.items())], "k: long, t: long, rv: long"
    ) if rdedup else spark.createDataFrame([], "k: long, t: long, rv: long")
    got = {
        r.lid: (r.t_matched, r.rv)
        for r in asof_join(left, right, "t", by=["k"]).collect()
    }
    lp = pd.DataFrame([(i, k, t) for i, (k, t) in enumerate(lrows)], columns=["lid", "k", "t"]).sort_values("t", kind="stable")
    rp = pd.DataFrame(
        [(k, t, v) for (k, t), v in sorted(rdedup.items())], columns=["k", "t", "rv"]
    ).sort_values("t", kind="stable")
    if len(rp):
        m = pd.merge_asof(lp, rp, on="t", by="k", direction="backward", suffixes=("", "_r"))
        want = {
            int(row.lid): (None if pd.isna(row.rv) else int(row.rv))
            for row in m.itertuples()
        }
    else:
        want = {int(row.lid): None for row in lp.itertuples()}
    got_rv = {lid: (None if v[1] is None else int(v[1])) for lid, v in got.items()}
    assert got_rv == want


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=20),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=20),
    st.sampled_from(["forward", "nearest"]),
)
@settings(max_examples=8, deadline=None)
def test_asof_join_directions_match_pandas(spark, lrows, rrows, direction):
    """Property: forward and nearest directions == pandas merge_asof on
    random keyed integer frames (nearest ties resolve to backward in
    both engines)."""
    import pandas as pd

    from iceberg_python_spark.operators.joins import asof_join

    rdedup = {}
    for k, tt in rrows:
        rdedup[(k, tt)] = (k * 100 + tt) * 10
    left = spark.createDataFrame(
        [(i, k, tt) for i, (k, tt) in enumerate(lrows)], "lid: long, k: long, t: long"
    )
    right = (
        spark.createDataFrame(
            [(k, tt, v) for (k, tt), v in sorted(rdedup.items())], "k: long, t: long, rv: long"
        )
        if rdedup
        else spark.createDataFrame([], "k: long, t: long, rv: long")
    )
    got = {
        r.lid: (None if r.rv is None else int(r.rv))
        for r in asof_join(left, right, "t", by=["k"], direction=direction).collect()
    }
    lp = pd.DataFrame(
        [(i, k, tt) for i, (k, tt) in enumerate(lrows)], columns=["lid", "k", "t"]
    ).sort_values("t", kind="stable")
    if rdedup:
        rp = pd.DataFrame(
            [(k, tt, v) for (k, tt), v in sorted(rdedup.items())], columns=["k", "t", "rv"]
        ).sort_values("t", kind="stable")
        m = pd.merge_asof(lp, rp, on="t", by="k", direction=direction)
        want = {int(r.lid): (None if pd.isna(r.rv) else int(r.rv)) for r in m.itertuples()}
    else:
        want = {int(r.lid): None for r in lp.itertuples()}
    assert got == want


@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=30),
    st.lists(st.integers(0, 1000), min_size=0, max_size=30),
)
@settings(max_examples=10, deadline=None)
def test_asof_join_keyless_matches_pandas(spark, lts, rts):
    """Property: the keyless (by=()) range-chunked carry path == pandas
    merge_asof backward with no key — the r09 global-window hazard is
    replaced by chunked windows + cross-edge carry."""
    import pandas as pd

    from iceberg_python_spark.operators.joins import asof_join

    rdedup = {t: t * 10 for t in rts}
    left = spark.createDataFrame([(i, t) for i, t in enumerate(lts)], "lid: long, t: long")
    right = (
        spark.createDataFrame(sorted(rdedup.items()), "t: long, rv: long")
        if rdedup
        else spark.createDataFrame([], "t: long, rv: long")
    )
    got = {r.lid: (None if r.rv is None else int(r.rv)) for r in asof_join(left, right, "t").collect()}
    lp = pd.DataFrame([(i, t) for i, t in enumerate(lts)], columns=["lid", "t"]).sort_values("t", kind="stable")
    if rdedup:
        rp = pd.DataFrame(sorted(rdedup.items()), columns=["t", "rv"])
        m = pd.merge_asof(lp, rp, on="t", direction="backward")
        want = {int(r.lid): (None if pd.isna(r.rv) else int(r.rv)) for r in m.itertuples()}
    else:
        want = {int(r.lid): None for r in lp.itertuples()}
    assert got == want


def test_asof_join_keyless_timestamps_strict_tolerance(spark):
    """Keyless path honors strict + tolerance + timestamp typing, and
    carries matches across chunk edges (chunk count >> rows here)."""
    from iceberg_python_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, f"2024-01-01 10:{i:02d}:00") for i in (0, 5, 30)], "lid: long, ts: string"
    ).select("lid", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1.0), ("2024-01-01 10:04:00", 2.0)], "ts: string, v: double"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    out = {r.lid: r.v for r in asof_join(left, right, "ts").collect()}
    assert out == {0: 1.0, 5: 2.0, 30: 2.0}
    strict = {r.lid: r.v for r in asof_join(left, right, "ts", strict=True).collect()}
    assert strict[0] is None and strict[5] == 2.0
    tol = {r.lid: r.v for r in asof_join(left, right, "ts", tolerance=120.0).collect()}
    assert tol == {0: 1.0, 5: 2.0, 30: None}


def test_asof_join_keyless_hot_instant_salts_and_stays_correct(spark):
    """VERDICT r10 #5 adversarial case: >=90% of left rows share ONE
    instant. Quantile edges isolate the hot value, salted sub-chunks
    spread its rows (no chunk may hold a hotspot-sized share), and
    strict/inclusive visibility at the hot instant stays exact."""
    from iceberg_python_spark.operators.joins import _keyless_asof_carry, asof_join

    hot_t = 1000
    lrows = [(i, hot_t) for i in range(900)] + [
        (900 + i, t) for i, t in enumerate(range(0, 2000, 20))
    ]
    rrows = [(t, t * 10) for t in (0, 500, hot_t, 1500)]
    left = spark.createDataFrame(lrows, "lid: long, t: long")
    right = spark.createDataFrame(rrows, "t: long, rv: long")
    out = {r.lid: r.rv for r in asof_join(left, right, "t").collect()}
    assert all(out[i] == hot_t * 10 for i in range(900))  # inclusive sees rv@hot_t
    assert out[900] == 0 and out[901] == 0 and out[925 + 900 // 20] is not None
    s = {r.lid: r.rv for r in asof_join(left, right, "t", strict=True).collect()}
    assert all(s[i] == 5000 for i in range(900))  # strict sees last right BEFORE hot_t
    # chunk balance: rebuild the union frame shape and introspect _chunk
    u = left.select(
        F.col("t").cast("double").alias("_ats"),
        F.lit(1).alias("_tag"),
        F.col("lid").alias("_l_lid"),
        F.lit(None).cast("struct<rv: bigint, _ts: bigint, _tsu: bigint>").alias("_rp"),
    )
    sizes = [
        r.n
        for r in _keyless_asof_carry(u, keep_chunk_col=True)
        .groupBy("_chunk")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert max(sizes) <= 0.05 * sum(sizes)  # the 90% instant spread out


def test_asof_join_keyless_null_ts_matches_keyed_path(spark):
    """ADVICE r10: a NULL asof key must behave identically on the keyed
    and keyless paths — unmatched when no null-ts right row exists,
    never handed the last chunk's carry."""
    from iceberg_python_spark.operators.joins import asof_join

    lrows = [(0, None), (1, 100), (2, None), (3, 300)]
    left = spark.createDataFrame(lrows, "lid: long, t: long")
    right = spark.createDataFrame([(50, 1), (250, 2)], "t: long, rv: long")
    keyless = {r.lid: r.rv for r in asof_join(left, right, "t").collect()}
    keyed = {
        r.lid: r.rv
        for r in asof_join(
            left.withColumn("k", F.lit(1)), right.withColumn("k", F.lit(1)), "t", by=["k"]
        ).collect()
    }
    assert keyless == keyed == {0: None, 1: 1, 2: None, 3: 2}


def test_c4_quality_filter_rules(spark):
    from iceberg_python_spark.operators.text import c4_quality_filter

    good = "Here is a perfectly fine sentence with words."
    df = spark.createDataFrame(
        [
            # 3 good lines + a short line, a no-punct line, a js line
            (1, f"{good}\n{good}\n{good}\nshort.\nno terminal punct here at all\nPlease enable JavaScript to continue browsing."),
            (2, f"lorem ipsum dolor sit here.\n{good}\n{good}\n{good}"),  # page: lorem
            (3, f"code {{ x }} appears.\n{good}\n{good}\n{good}"),  # page: curly brace
            (4, f"{good}\n{good}"),  # page: only 2 surviving lines
            (5, f'She said "stop right there, thief!"\n{good}\n{good}'),  # quote terminal
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in c4_quality_filter(df, "text", "doc_id").collect()}
    assert out[1]["keep"] and out[1]["n_lines"] == 6 and out[1]["n_lines_kept"] == 3
    assert out[1]["text"] == f"{good}\n{good}\n{good}"  # short/no-punct/js lines cut
    assert not out[2]["keep"] and out[2]["n_lines_kept"] == 4  # lorem is page-level
    assert not out[3]["keep"]  # curly brace
    assert not out[4]["keep"] and out[4]["n_lines_kept"] == 2
    assert out[5]["keep"] and out[5]["n_lines_kept"] == 3  # end-quote counts as terminal


def test_bloom_filter_membership(spark):
    from iceberg_python_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
        bloom_dedup_against,
        bloom_parameters,
    )

    m, k = bloom_parameters(1000, 0.01)
    assert m % 8 == 0 and 9000 < m < 11000 and 5 <= k <= 9

    members = spark.range(0, 500).select(F.concat(F.lit("doc-"), F.col("id")).alias("text"))
    bitmap, m, k = bloom_build(members, "text", n_items=500, fp_rate=0.01)
    assert len(bitmap) == m // 8

    probe = spark.range(0, 2000).select(
        F.col("id"), F.concat(F.lit("doc-"), F.col("id")).alias("text")
    )
    flagged = bloom_contains(probe, "text", bitmap, m, k)
    # the Bloom guarantee: zero false negatives
    assert flagged.where("id < 500 AND NOT in_bloom").count() == 0
    # false positives bounded (deterministic hash: stable across runs)
    fp = flagged.where("id >= 500 AND in_bloom").count()
    assert fp <= 0.05 * 1500
    kept = bloom_dedup_against(probe, "text", bitmap, m, k)
    assert kept.count() == 2000 - flagged.where("in_bloom").count()
    assert kept.where("id < 500").count() == 0  # every member dropped


def test_bloom_empty_build(spark):
    from iceberg_python_spark.operators.bloom import bloom_build, bloom_contains

    empty = spark.range(0).select(F.col("id").cast("string").alias("t"))
    bitmap, m, k = bloom_build(empty, "t", n_items=0)
    probe = spark.createDataFrame([("x",)], "t: string")
    assert bloom_contains(probe, "t", bitmap, m, k).where("in_bloom").count() == 0


def test_cms_estimates_never_undercount(spark):
    from iceberg_python_spark.operators.sketch import cms_build, cms_estimate, heavy_hitters

    rows = (
        [("alpha",)] * 100
        + [("beta",)] * 50
        + [("gamma",)] * 20
        + [(f"tail-{i}",) for i in range(500)]
    )
    df = spark.createDataFrame(rows, "w: string").repartition(8)
    grid = cms_build(df, "w", width=4096, depth=5)
    assert grid.shape == (5, 4096)
    # every depth row holds the full count mass
    assert (grid.sum(axis=1) == len(rows)).all()

    probe = spark.createDataFrame(
        [("alpha", 100), ("beta", 50), ("gamma", 20), ("tail-7", 1), ("absent", 0)],
        "w: string, exact: long",
    )
    got = {r["w"]: r["est_count"] for r in cms_estimate(probe, "w", grid).collect()}
    for w, exact in [("alpha", 100), ("beta", 50), ("gamma", 20), ("tail-7", 1), ("absent", 0)]:
        assert got[w] >= exact  # the count-min guarantee
        assert got[w] <= exact + 5 * len(rows) // 4096 + 1  # eps*N slack

    top, _ = heavy_hitters(df, "w", k=3, width=4096, depth=5)
    assert [r["w"] for r in top.collect()] == ["alpha", "beta", "gamma"]


def test_cms_partition_merge_equals_single_partition(spark):
    from iceberg_python_spark.operators.sketch import cms_build

    rows = [(f"w{i % 37}",) for i in range(1000)]
    one = cms_build(spark.createDataFrame(rows, "w: string").coalesce(1), "w", width=512, depth=3)
    many = cms_build(spark.createDataFrame(rows, "w: string").repartition(16), "w", width=512, depth=3)
    assert (one == many).all()  # partition grids merge exactly


def test_tree_reduce_partials_exact_at_high_partition_count(spark):
    """fanout=4 over 40 partitions forces the executor-side shuffle
    merge level (40 partials -> 4 merge tasks -> driver fold); both
    the CMS sum and the Bloom OR must stay exact."""
    from iceberg_python_spark.operators.bloom import bloom_build, bloom_contains
    from iceberg_python_spark.operators.sketch import cms_build

    rows = [(f"w{i % 23}",) for i in range(600)]
    df40 = spark.createDataFrame(rows, "w: string").repartition(40)
    one = cms_build(spark.createDataFrame(rows, "w: string").coalesce(1), "w", width=256, depth=3)
    treed = cms_build(df40, "w", width=256, depth=3, fanout=4)
    assert (one == treed).all()

    bm1, m, k = bloom_build(spark.createDataFrame(rows, "w: string").coalesce(1), "w", n_items=50)
    bm2, m2, k2 = bloom_build(df40, "w", n_items=50, fanout=4)
    assert (m, k) == (m2, k2) and bm1 == bm2
    probe = spark.createDataFrame(rows[:23], "w: string")
    assert bloom_contains(probe, "w", bm2, m, k).where("in_bloom").count() == 23


def test_kmeans_distributed_fit_and_assign(spark):
    """r12: full-corpus distributed Lloyd's — monotone inertia, exact
    recovery of well-separated blobs, assignment = nearest centroid
    verified through a JVM-side distance expression (independent of the
    numpy assignment path)."""
    import numpy as np

    from iceberg_python_spark.operators.similarity import kmeans_assign, kmeans_fit

    rng = np.random.default_rng(5)
    blobs = np.vstack([rng.normal(loc=c, scale=0.05, size=(40, 16)) for c in (0.0, 5.0, -5.0)])
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(blobs)], "id: long, v: array<double>"
    ).repartition(4)
    C, inertias = kmeans_fit(df, "v", k=3, iters=8, seed=1)
    assert C.shape == (3, 16)
    assert all(b <= a * (1 + 1e-9) for a, b in zip(inertias, inertias[1:]))
    assigned = kmeans_assign(df, "v", C)
    # blob purity: each true blob maps to exactly one cluster
    rows = assigned.collect()
    blocks = {}
    for r in rows:
        blocks.setdefault(r["id"] // 40, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in blocks.values()) and len(blocks) == 3
    # JVM cross-check: assigned distance equals the array-min distance
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(float(x)) for x in C[j]]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for j in range(3)
        ]
    )
    bad = (
        assigned.select("cluster", dists.alias("ds"))
        .where(F.element_at("ds", F.col("cluster") + 1) > F.array_min("ds") + 1e-9)
        .count()
    )
    assert bad == 0
    # empty corpus refuses
    import pytest as _pytest

    empty = spark.createDataFrame([], "id: long, v: array<double>")
    with _pytest.raises(ValueError, match="empty"):
        kmeans_fit(empty, "v", k=2)


def test_kmeans_short_sample_tops_up_and_tiny_corpus_refuses(spark):
    """ADVICE r12: a tiny seeded sample draw must not IndexError
    (empty) or silently return fewer than k centroids — top up
    deterministically; fewer than k rows total is a clear refusal."""
    import pytest as _pytest

    from iceberg_python_spark.operators.similarity import kmeans_fit

    rows = [(i, [float(i), float(i % 3)]) for i in range(12)]
    df = spark.createDataFrame(rows, "id: long, v: array<double>")
    # init_sample=1 -> frac ~0.1; the draw is often shorter than k=4
    C, inertias = kmeans_fit(df, "v", k=4, iters=3, seed=7, init_sample=1)
    assert C.shape == (4, 2) and len(inertias) >= 1
    tiny = spark.createDataFrame(rows[:3], "id: long, v: array<double>")
    with _pytest.raises(ValueError, match="only 3 rows but k=8"):
        kmeans_fit(tiny, "v", k=8)


def test_pii_email_pattern_is_restart_bounded(spark):
    """The email pattern uses RFC 5321's 64/253 length bounds as
    quantifier caps: an unanchored `+` local part made regex restarts
    O(n^2) — one adversarial 100 KB unbroken email-charset run cost
    ~106 s/doc before the bound. Valid emails are unaffected; an
    over-long (invalid) local part redacts its RFC-max tail."""
    from iceberg_python_spark.operators.text import PII_PATTERNS, pii_redact

    email_pat = dict((l, p) for l, p, _ in PII_PATTERNS)["email"]
    assert "{1,64}" in email_pat and "]+" not in email_pat
    df = spark.createDataFrame(
        [(0, "x@y.com and " + "b" * 100 + "@example.com")], "doc_id: long, text: string"
    )
    (row,) = pii_redact(df, "text", "doc_id").collect()
    assert row["n_email"] == 2
    assert row["text"].startswith("<EMAIL> and " + "b" * 36 + "<EMAIL>")


def test_strip_html_unclosed_blocks_are_linear_and_html5_correct(spark):
    """An unclosed <script>/<style> element runs to end-of-input per
    HTML5 — the sentinel-close trick encodes that AND removes the
    quadratic rescan (12k dangling opens cost ~6 s/doc before; now
    they cost the same as benign HTML). Well-formed pages are
    byte-identical to the pre-sentinel output."""
    from iceberg_python_spark.operators.text import strip_html

    rows = [
        (0, "<script>" * 12_000),                        # adversarial
        (1, "<p>keep</p><script>var x = 'dangling';"),   # unclosed tail
        (2, "<p>keep</p><style>p { color: red;"),        # unclosed style
        (3, '<html><style>p{}</style><p>a &amp; "b"</p><script>t();</script></html>'),
        (4, "plain, no html at all"),
        (5, "stray close </script> is just a tag"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r[0]: r[1] for r in strip_html(df, "text", "doc_id").collect()}
    assert got[0] == ""
    assert got[1] == "keep" and got[2] == "keep"
    assert got[3] == 'a & "b"'
    assert got[4] == "plain, no html at all"
    assert got[5] == "stray close is just a tag"


def test_pca_fit_transform_invariants(spark):
    """Distributed moment partials == exact covariance; components
    orthonormal with deterministic signs; projection variance equals
    the eigenvalues; reconstruction error equals the dropped spectrum
    (the PCA identity); guards refuse empty/small/bad-k input."""
    import numpy as np
    import pytest as _pytest

    from iceberg_python_spark.operators.similarity import pca_fit, pca_transform

    rng = np.random.RandomState(3)
    # anisotropic data so the spectrum is far from flat
    X = rng.randn(400, 12) @ np.diag([5, 4, 3, 2] + [0.5] * 8)
    df = spark.createDataFrame([(i, row.tolist()) for i, row in enumerate(X)],
                               "id: long, v: array<double>").repartition(6)
    mean, C, ev, total = pca_fit(df, "v", k=4)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-9)
    exact = np.sort(np.linalg.eigvalsh(np.cov(X.T)))[::-1]
    assert np.allclose(ev, exact[:4], rtol=1e-9)
    assert abs(total - exact.sum()) < 1e-9
    # deterministic sign: largest-|coeff| entry positive
    for row in C:
        assert row[int(np.argmax(np.abs(row)))] > 0
    # projections: variance per dim == eigenvalue; residual == dropped tail
    P = np.asarray(
        [r["pca"] for r in pca_transform(df, "v", mean, C).orderBy("id").collect()]
    )
    assert np.allclose(P.var(axis=0, ddof=1), ev, rtol=1e-8)
    recon = mean + P @ C
    resid = ((X - recon) ** 2).sum() / (len(X) - 1)
    assert abs(resid - (total - ev.sum())) < 1e-8
    with _pytest.raises(ValueError, match="empty"):
        pca_fit(df.where("id < 0"), "v", k=2)
    with _pytest.raises(ValueError, match="outside"):
        pca_fit(df, "v", k=13)
    with _pytest.raises(ValueError, match=">= 2 rows"):
        pca_fit(df.where("id = 0"), "v", k=2)


def test_salted_join_equals_plain_join(spark):
    """The salted plan returns exactly the plain join's multiset, for
    inner and left joins, with and without a hot-key set; guards
    refuse outer modes and degenerate salt."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from iceberg_python_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(i, 0 if i % 10 < 7 else i % 5, f"p{i}") for i in range(2000)],
        "id: long, k: int, payload: string",
    ).repartition(8)
    right = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(5)], "k: int, attr: string"
    )

    def multiset(df):
        rows = df.collect()
        return sorted(tuple(r) for r in rows)

    for how in ("inner", "left"):
        plain = left.join(right, ["k"], how).select("id", "k", "payload", "attr")
        salted = salted_join(left, right, ["k"], how, salt=8).select(
            "id", "k", "payload", "attr"
        )
        assert multiset(salted) == multiset(plain), how
        hot = salted_join(left, right, ["k"], how, salt=8, hot_keys=[0]).select(
            "id", "k", "payload", "attr"
        )
        assert multiset(hot) == multiset(plain), f"{how} hot"
    # the hot key's rows really do split across salt values
    lt = left.withColumn(
        "_salt",
        F.when(
            F.col("k").isin([0]),
            F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in left.columns])), F.lit(8)),
        ).otherwise(F.lit(0)),
    )
    n_salts = lt.where("k = 0").select("_salt").distinct().count()
    assert n_salts == 8
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, ["k"], "full", salt=8)
    with _pytest.raises(ValueError, match="salt must be"):
        salted_join(left, right, ["k"], salt=1)
    with _pytest.raises(ValueError, match="single-column"):
        salted_join(left, right, ["k", "k"], hot_keys=[0])


def test_phash_neardup_pairs_exact_at_banding_guarantee(spark):
    """Banded candidates + JVM Hamming verify == the exact all-pairs
    truth for max_hamming <= bands-1 (the pigeonhole guarantee), on
    bases + brightness-perturbed near-duplicate variants."""
    import numpy as np
    import pytest as _pytest

    from iceberg_python_spark.operators.imaging import encode_png, hamming, phash
    from iceberg_python_spark.operators.multimodal import (
        extract_image_stats,
        phash_neardup_pairs,
    )

    def make(i):
        k = i % 6
        px = np.random.default_rng(k).integers(0, 250, (24, 24, 3), dtype=np.uint8)
        if i >= 18:
            px = np.clip(px.astype(np.int16) + 3, 0, 255).astype(np.uint8)
        return px

    rows = [(i, bytearray(encode_png(make(i)))) for i in range(36)]
    df = spark.createDataFrame(rows, "id: long, payload: binary")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_neardup_pairs(
            extract_image_stats(df, "id", "payload"), max_hamming=7, bands=8
        ).collect()
    }
    local = {i: phash(make(i)) for i in range(36)}
    want = {
        (x, y): hamming(local[x], local[y])
        for x in range(36)
        for y in range(x + 1, 36)
        if hamming(local[x], local[y]) <= 7
    }
    assert got == want and len(want) > 0
    with _pytest.raises(ValueError, match="bands must divide"):
        phash_neardup_pairs(extract_image_stats(df, "id", "payload"), bands=5)
    with _pytest.raises(ValueError, match="exceeds the banding guarantee"):
        phash_neardup_pairs(extract_image_stats(df, "id", "payload"), max_hamming=9, bands=8)


def test_basket_affinity_exact(spark):
    import pytest as _pytest

    from iceberg_python_spark.operators.basket import basket_affinity

    rows = [
        (1, "milk"), (1, "bread"), (1, "eggs"),
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "bread"),
        (4, "eggs"),
        (5, "milk"), (5, "milk"),  # duplicate item in a basket: counted once
    ]
    df = spark.createDataFrame(rows, "b: long, i: string")
    out = {(r["item_a"], r["item_b"]): r for r in basket_affinity(df, "b", "i").collect()}
    mb = out[("bread", "milk")]
    assert (mb["support"], mb["support_a"], mb["support_b"]) == (3, 3, 4)
    assert mb["confidence_micro"] == 1_000_000  # P(milk|bread) = 3/3
    # lift = (3/5) / ((3/5)*(4/5)) = 1.25
    assert mb["lift_micro"] == 1_250_000
    assert ("bread", "eggs") not in out  # support 1 < min_support 2
    low = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in basket_affinity(df, "b", "i", min_support=1).collect()
    }
    assert low[("bread", "eggs")] == 1 and low[("eggs", "milk")] == 1
    with _pytest.raises(ValueError, match="min_support"):
        basket_affinity(df, "b", "i", min_support=0)
    with _pytest.raises(ValueError, match="no baskets"):
        basket_affinity(df.where("b < 0"), "b", "i")


def test_mad_outliers(spark):
    import pytest as _pytest

    from iceberg_python_spark.operators.anomaly import mad_outliers

    rows = [("a", float(x)) for x in [10, 11, 12, 13, 14, 1000]] + [
        ("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 9.0),  # MAD=0 group
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "g: string, v: double")
    out = mad_outliers(df, "v", ["g"]).collect()
    flags = {(r["g"], r["v"]): r["is_outlier"] for r in out}
    assert flags[("a", 1000.0)] is True
    assert all(not flags[("a", float(x))] for x in [10, 11, 12, 13, 14])
    # MAD=0: any value off the median flags
    assert flags[("b", 9.0)] is True and flags[("b", 5.0)] is False
    assert flags[("c", None)] is False
    meds = {r["g"]: (r["group_median"], r["group_mad"]) for r in out}
    assert meds["a"] == (12.5, 1.5)  # interpolated median; MAD of devs
    assert meds["b"] == (5.0, 0.0)
    # approx path agrees on this small data
    out2 = mad_outliers(df, "v", ["g"], approx=True).collect()
    assert {(r["g"], r["v"]): r["is_outlier"] for r in out2}[("a", 1000.0)] is True
    # high-cardinality path (small_groups=False, unhinted joins) is
    # result-identical and its plan carries no forced broadcast
    big = mad_outliers(df, "v", ["g"], small_groups=False)
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, out))
    anal = big._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in anal and "hint" not in anal.lower()


def test_overlap_helper_order_and_errors(spark):
    """r17: _overlap builds independent sub-frames on driver threads.
    It must preserve thunk order, run thunks concurrently against one
    SparkSession without corrupting results, and propagate a thunk's
    exception unchanged."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    dfs = entry._overlap(
        lambda: spark.range(10).selectExpr("sum(id) as s").localCheckpoint(eager=True),
        lambda: spark.range(100).selectExpr("count(*) as c").localCheckpoint(eager=True),
        lambda: 42,  # plain-value thunks are allowed (claim computations)
    )
    assert dfs[0].first()["s"] == 45
    assert dfs[1].first()["c"] == 100
    assert dfs[2] == 42

    import pytest as _pytest

    with _pytest.raises(ValueError, match="boom"):
        entry._overlap(
            lambda: spark.range(1).count(),
            lambda: (_ for _ in ()).throw(ValueError("boom")),
        )


def test_dedup_blocks_release_with_frames(spark):
    """r18 (VERDICT r17 #6): the minhash/jaccard materializations must
    not accumulate storage blocks across invocations in a long-lived
    session — the old never-unpersisted persist(MEMORY_AND_DISK) calls
    leaked one cached RDD per pipeline run. With localCheckpoint the
    ContextCleaner releases the blocks once the frames are GC'd: after
    repeated runs + gc, the storage-RDD list returns to (near) its
    starting size instead of growing by ~2 RDDs per run.

    Probe via getRDDStorageInfo (plain RDDInfo data), NOT
    getPersistentRDDs — the latter returns JavaRDD wrappers whose
    Py4J-held references pin the weak-valued persistentRdds map and
    defeat the very cleanup being asserted. The poll forces JVM GCs:
    the weak refs only enqueue on a JVM collection, which production
    sessions get from the ContextCleaner's periodic System.gc (default
    every 30min) and a test can't wait for."""
    import gc
    import time

    from iceberg_python_spark.operators.dedup import minhash_dedup

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}tok" for j in range(30))) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    def n_stored():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    gc.collect()
    base = n_stored()
    for _ in range(3):
        out = minhash_dedup(df, "doc_id", "text", threshold=0.8)
        out.count()
        del out
    gc.collect()
    # the ContextCleaner runs async off JVM weak refs; poll with forced
    # JVM collections for the cleanup
    deadline = time.time() + 30
    while n_stored() > base + 1 and time.time() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    grown = n_stored() - base
    assert grown <= 1, f"stored RDDs grew by {grown} across 3 dedup runs"


def test_isolated_scaled_session_private_conf(spark):
    """r18: iterative loops (CC, pagerank) size their per-round
    shuffles on a conf-ISOLATED session clone — the scaled width must
    land on the clone only, derive exactly like scaled_shuffle, and
    never touch the parent session's conf (lock-free overlap safety)."""
    from iceberg_python_spark.operators._local import (
        isolated_scaled_session,
        scaled_width,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    sess = isolated_scaled_session(spark, 100_000, 50_000)
    assert sess is not spark
    assert int(sess.conf.get("spark.sql.shuffle.partitions")) == scaled_width(
        int(before), 100_000, 50_000
    ) == 2
    # huge key count clamps to the parent width, tiny floors at 2
    assert scaled_width(int(before), 10**9, 1) == int(before)
    assert scaled_width(int(before), 1, 50_000) == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_isolated_scaled_session_ignores_transient_scaled_width(spark):
    """The clone's clamp ceiling is the parent's session width, never a
    width a concurrent scaled_shuffle section lowered for its duration:
    the parent conf is read under the scaled-shuffle lock."""
    import threading

    from iceberg_python_spark.operators._local import isolated_scaled_session, scaled_shuffle

    before = int(spark.conf.get("spark.sql.shuffle.partitions"))
    entered, release = threading.Event(), threading.Event()

    def hold_lowered_width():
        with scaled_shuffle(spark, 2):
            entered.set()
            release.wait(30)

    holder = threading.Thread(target=hold_lowered_width)
    holder.start()
    assert entered.wait(30)
    out = {}
    cloner = threading.Thread(target=lambda: out.update(s=isolated_scaled_session(spark, 10**9)))
    cloner.start()
    cloner.join(0.5)
    release.set()
    holder.join(30)
    cloner.join(30)
    assert not holder.is_alive() and not cloner.is_alive()
    assert int(out["s"].conf.get("spark.sql.shuffle.partitions")) == before > 2


def test_rebind_cross_session_roundtrip(spark):
    """r18: rebind() hands a checkpointed frame to a session clone and
    back via a transient global temp view; values are identical, the
    view does not linger, and a frame already in the target session is
    returned as-is."""
    from pyspark.sql import functions as F

    from iceberg_python_spark.operators._local import rebind

    df = (
        spark.range(100)
        .withColumn("v", F.col("id") % 7)
        .localCheckpoint(eager=True)
    )
    clone = spark.newSession()
    over = rebind(df, clone)
    agg = over.groupBy("v").count().localCheckpoint(eager=True)
    back = rebind(agg, spark)
    want = sorted((r.v, r["count"]) for r in df.groupBy("v").count().collect())
    assert sorted((r.v, r["count"]) for r in back.collect()) == want
    assert rebind(df, spark) is df
    # transient views are dropped before rebind returns
    assert [t.name for t in spark.catalog.listTables("global_temp") if t.name.startswith("_rebind_")] == []


def test_connected_components_overlapped_loops(spark):
    """r18: distributed CC loops run on isolated session clones, so
    concurrent variants (the dedup_clusters_combined shape) must not
    perturb each other or the parent conf, and must agree with the
    driver union-find path."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from iceberg_python_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (30, 31)],
        "id_a: long, id_b: long",
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(
                inheritable_thread_target(
                    lambda kw=kw: {
                        r.node: r.component_id
                        for r in connected_components(edges, **kw).collect()
                    }
                )
            )
            for kw in (
                {"driver_threshold": 0},
                {},
                {"driver_threshold": 0, "algorithm": "star"},
            )
        ]
        got = [f.result() for f in futs]
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30}
    assert got[0] == got[1] == got[2] == want
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_edge_scaled_shuffle_concurrent_restore(spark):
    """r17/r18: every scaled-shuffle section mutates the session-global
    shuffle partition conf through ONE locked implementation
    (operators/_local.scaled_shuffle); with combined rows building
    sub-frames on threads AND streaming rows sizing their state stores
    through the same helper, interleaved set/restore must never leak a
    scaled value into the session. Hammers the dedup wrapper, the
    entry wrapper, and the shared helper concurrently."""
    import threading

    import __spark_entry__ as entry
    from iceberg_python_spark.operators._local import scaled_shuffle
    from iceberg_python_spark.operators.dedup import _edge_scaled_shuffle

    before = spark.conf.get("spark.sql.shuffle.partitions")
    errs = []

    def run(ctx_fn, n):
        try:
            with ctx_fn(spark, n):
                # inside the section the conf is the scaled value and
                # stays stable against sibling threads (the lock holds)
                assert int(spark.conf.get("spark.sql.shuffle.partitions")) <= max(2, int(before))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(fn, n))
        for n in (10, 100_000, 10_000_000)
        for fn in (_edge_scaled_shuffle, entry._scaled_shuffle, scaled_shuffle)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_read_plan_cache_thread_safety(spark, tmp_path):
    """r17: _read_paths' LRU read-plan cache is hit from overlapped
    driver threads; hammer it concurrently and assert every handed-out
    frame is valid and fresh-aliased (no shared exprIds)."""
    import threading

    from iceberg_python_spark.table import _read_paths

    p = str(tmp_path / "t.parquet")
    spark.range(50).selectExpr("id", "id * 2 as v").write.parquet(p)
    import glob

    files = sorted(glob.glob(p + "/part-*.parquet"))
    schema = spark.read.parquet(p).schema
    out, errs = [], []

    def run():
        try:
            for _ in range(5):
                df = _read_paths(spark, schema, "PARQUET", files)
                out.append(df.selectExpr("sum(id) as s").first()["s"])
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert out and all(s == 1225 for s in out)
