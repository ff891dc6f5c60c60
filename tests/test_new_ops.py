"""Unit tests: simhash family, LSH ANN, blocked cosine near-dup, sources."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_20_spark.operators import ann, simhash
from gmall_flink_20_spark.sources import connectors, generators


def test_simhash_identical_and_near_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical → hamming 0
            (3, base + " iota"),  # near
            (4, "totally different words everywhere now yes ok right"),
        ],
        "doc_id long, text string",
    )
    sig = simhash.simhash32(docs)
    vals = {r.doc_id: r.simhash for r in sig.collect()}
    assert vals[1] == vals[2]
    assert 0 <= vals[1] < 2**32
    pairs = simhash.simhash_near_dup(sig, max_hamming=3).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert got.get((1, 2)) == 0
    # banding recall is exact for k<=3: any pair with hamming<=3 is found
    import itertools

    for a, b in itertools.combinations(sorted(vals), 2):
        h = bin(vals[a] ^ vals[b]).count("1")
        assert ((a, b) in got) == (h <= 3), (a, b, h)


def test_lsh_ann_subset_of_bruteforce_bucket(spark):
    from gmall_flink_20_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = ann.ann_lsh_topk(emb, [0, 1, 2], 3, n_planes=4).collect()
    assert len(out) > 0
    # ranks are dense per query starting at 1
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_full_probe_equals_bruteforce(spark):
    """nprobe == nlist degenerates IVF to an exact scan: the top-k must
    equal the brute-force baseline rank-for-rank."""
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ivf = ann.ann_ivf_topk(emb, [0, 1, 2], 3, nlist=8, nprobe=8).collect()
    bf = similarity.ann_bruteforce_topk(emb, [0, 1, 2], 3).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted([(r.query_id, r.rank, r.neighbor_id) for r in ivf]) == sorted(
        [(r.query_id, r.rank, r.neighbor_id) for r in bf]
    )


def _clustered_embeddings(spark, n_clusters=4, per=40, dim=8):
    """4 well-separated clusters with md5 jitter; ids 0..7 all sit in
    cluster 0, so the untrained lowest-id quantizer is adversarially
    initialized while trained k-means can migrate its centroids."""
    import hashlib

    def jit(vid, d):
        h = int(hashlib.md5(f"{vid}:{d}".encode()).hexdigest()[:8], 16)
        return (h / 0xFFFFFFFF) * 2 - 1

    rows, vid = [], 0
    for _ in range(8):
        base = [0.0] * dim
        base[0] = 10.0
        rows.append((vid, [base[d] + jit(vid, d) for d in range(dim)]))
        vid += 1
    for c in range(n_clusters):
        for _ in range(per):
            base = [0.0] * dim
            base[c * 2] = 10.0
            rows.append((vid, [base[d] + jit(vid, d) for d in range(dim)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_trained_beats_untrained_on_clustered_data(spark):
    """Spherical Lloyd training must lift recall when the corpus has
    cluster structure and the untrained init is bad (measured: 0.65 ->
    0.975 at nprobe=1). On structure-less uniform data the two match —
    that finding is documented on the registry entry."""
    from gmall_flink_20_spark.operators import similarity

    emb = _clustered_embeddings(spark)
    qids, k = [8, 48, 88, 128, 9, 49, 89, 129], 5
    bf = {(r.query_id, r.neighbor_id) for r in similarity.ann_bruteforce_topk(emb, qids, k).collect()}
    u = {(r.query_id, r.neighbor_id) for r in ann.ann_ivf_topk(emb, qids, k, nlist=8, nprobe=1).collect()}
    t = {
        (r.query_id, r.neighbor_id)
        for r in ann.ann_ivf_topk(emb, qids, k, nlist=8, nprobe=1, train_iters=3, dim=8).collect()
    }
    recall_u = len(u & bf) / len(bf)
    recall_t = len(t & bf) / len(bf)
    assert recall_t > recall_u
    assert recall_t >= 0.9


def test_ivf_trained_full_probe_equals_bruteforce(spark):
    """nprobe == nlist is exact regardless of training."""
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ivf = ann.ann_ivf_topk(emb, [0, 1, 2], 3, nlist=8, nprobe=8, train_iters=2).collect()
    bf = similarity.ann_bruteforce_topk(emb, [0, 1, 2], 3).collect()
    assert sorted([(r.query_id, r.rank, r.neighbor_id) for r in ivf]) == sorted(
        [(r.query_id, r.rank, r.neighbor_id) for r in bf]
    )


def test_ivf_partial_probe_ranks_dense(spark):
    from gmall_flink_20_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = ann.ann_ivf_topk(emb, [0, 1, 2], 3, nlist=8, nprobe=2).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_lsh_multiprobe_recall_geq_single_probe(spark):
    """Multi-probe LSH must recall at least as much of the brute-force
    top-k as single-probe at the same plan shape, and strictly more
    unless single-probe is already perfect."""
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import similarity

    # sf0.01 + 4 planes: buckets hold ~12 vectors each, so probe count is
    # the recall dial (measured: single 0.18, multi-4 0.46)
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qids, k = list(range(10)), 5
    bf = {(r.query_id, r.neighbor_id) for r in similarity.ann_bruteforce_topk(emb, qids, k).collect()}
    single = {(r.query_id, r.neighbor_id) for r in ann.ann_lsh_topk(emb, qids, k, n_planes=4, n_probes=1).collect()}
    multi = {(r.query_id, r.neighbor_id) for r in ann.ann_lsh_topk(emb, qids, k, n_planes=4, n_probes=4).collect()}
    recall_single = len(single & bf) / len(bf)
    recall_multi = len(multi & bf) / len(bf)
    assert recall_multi >= recall_single
    assert recall_multi > recall_single or recall_single == 1.0


def test_lsh_plan_construction_submits_no_job(spark):
    """dim is a parameter, not probed: building the LSH plan must not
    trigger any Spark job (the old first() dim probe did)."""
    from gmall_flink_20_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("lsh_plan_probe", "plan construction must be lazy")
    try:
        df = ann.ann_lsh_topk(emb, [0, 1], 3, n_planes=4, n_probes=2)
        assert "query_id" in df.columns
        assert sc.statusTracker().getJobIdsForGroup("lsh_plan_probe") == []
        # control: an action in the same group IS visible to the tracker
        df.limit(1).collect()
        assert sc.statusTracker().getJobIdsForGroup("lsh_plan_probe") != []
    finally:
        sc.setJobGroup("", "")


def test_hyperplanes_deterministic():
    a = ann.hyperplanes(4, 8, seed=7)
    b = ann.hyperplanes(4, 8, seed=7)
    c = ann.hyperplanes(4, 8, seed=8)
    assert a == b and a != c
    assert all(-1.0 <= w < 1.0 for row in a for w in row)


def test_cosine_near_dup_blocked(spark):
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.99, 0.01]),
        (2, 0, [0.0, 1.0]),
        (3, 1, [1.0, 0.0]),  # other block: never paired with 0/1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {(r.vec_a, r.vec_b) for r in ann.cosine_near_dup_blocked(emb, 0.9).collect()}
    assert out == {(0, 1)}


def test_market_behavior_transform(spark):
    from datetime import datetime

    rate = spark.createDataFrame(
        [(datetime(2024, 1, 1, i // 60, i % 60), i) for i in range(100)],
        "timestamp timestamp, value long",
    )
    out = generators.market_behavior_transform(rate, n_users=50)
    rows = out.collect()
    assert len(rows) == 100
    assert {r.behavior for r in rows} <= set(generators.BEHAVIORS)
    assert {r.channel for r in rows} <= set(generators.CHANNELS)
    assert all(0 <= r.user_id < 50 for r in rows)
    # deterministic in value
    again = generators.market_behavior_transform(rate, n_users=50).collect()
    assert rows == again


def test_csv_and_json_line_parsers(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ip", StringType()),
            StructField("event_type", StringType()),
            StructField("ts", LongType()),
        ]
    )
    # the reference's LoginLog.csv line shape (LoginEvent bean,
    # gmall-login-fail/.../bean/LoginEvent.java:14-18)
    lines = spark.createDataFrame(
        [("5402,83.149.11.115,success,1558430815",)], "value string"
    )
    row = connectors.csv_lines_to_rows(lines, schema).collect()[0]
    assert (row.user_id, row.ip, row.event_type, row.ts) == (
        5402,
        "83.149.11.115",
        "success",
        1558430815,
    )
    jlines = spark.createDataFrame(
        [('{"user_id": 7, "ip": "1.2.3.4", "event_type": "fail", "ts": 10}',)],
        "value string",
    )
    jrow = connectors.json_lines_to_rows(jlines, schema).collect()[0]
    assert (jrow.user_id, jrow.event_type) == (7, "fail")


def test_streaming_source_builders_declare(spark):
    # declaration-only: no connection until .start()
    df = generators.market_behavior_stream(spark, rows_per_second=5)
    assert df.isStreaming and set(df.columns) == {"user_id", "behavior", "channel", "ts"}
    sock = connectors.socket_stream(spark, "localhost", 9999)
    assert sock.isStreaming


def test_market_behavior_stream_live(spark):
    """Live rate-source run: a few micro-batches of generated events land
    in a memory sink with the expected shape."""
    import time
    import uuid

    name = f"mb_{uuid.uuid4().hex[:8]}"
    stream = generators.market_behavior_stream(spark, rows_per_second=200, n_users=20)
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.table(name).count()
            if n >= 50:
                break
            time.sleep(0.5)
        assert n >= 50, f"only {n} rows generated"
        sample = spark.table(name).limit(200).collect()
        assert {r.behavior for r in sample} <= set(generators.BEHAVIORS)
        assert {r.channel for r in sample} <= set(generators.CHANNELS)
    finally:
        q.stop()


def test_cleaning_ops(spark):
    from gmall_flink_20_spark.operators import cleaning

    df = spark.createDataFrame(
        [
            (1, '<p>Hi <b>there</b></p> mail a.b+c@x-y.org or 555-123-4567'),
            (2, 'plain &amp; simple&nbsp;text with 192.168.0.255 inside'),
            (3, 'no dirt at   all'),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.clean_documents(df).collect()}
    assert out[1].clean_text == "Hi there mail <EMAIL> or <PHONE>"
    assert (out[1].n_emails, out[1].n_phones, out[1].had_html) == (1, 1, 1)
    assert out[2].clean_text == "plain & simple text with <IP> inside"
    assert (out[2].n_ips, out[2].had_html) == (1, 0)
    assert out[3].clean_text == "no dirt at all"
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ips) == (0, 0, 0)


def test_stratified_sample_deterministic_and_monotone(spark):
    from gmall_flink_20_spark.operators import sampling

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    half = sampling.hash_sample(df, 0.5)
    again = sampling.hash_sample(df, 0.5)
    assert sorted(r.doc_id for r in half.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    # same salt, higher rate => strict superset (widening never resamples)
    wide = set(r.doc_id for r in sampling.hash_sample(df, 0.75).collect())
    assert set(r.doc_id for r in half.collect()) <= wide
    # rate lands near expectation on uniform keys
    n = half.count()
    assert 800 < n < 1200
    # stratified: each stratum honors its own rate
    strat = sampling.stratified_sample(df, {"en": 1.0, "de": 0.0})
    langs = {r.lang for r in strat.collect()}
    assert langs == {"en"} and strat.count() == 1000


def test_repetition_features(spark):
    from gmall_flink_20_spark.operators import text as tops

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # "a b" 2-gram dominates
            (2, "x y z w"),              # all distinct, no repeats
            (3, "q q q q q"),            # one token repeated
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in tops.repetition_features(df).collect()}
    # doc 1: 6 tokens, 2 distinct -> 2/3 repeated; top 2-gram "a b" x3 (of
    # "a b","b a","a b","b a","a b"), 3*3=9 chars over 11
    assert abs(out[1].frac_repeated_tokens - (1 - 2 / 6)) < 1e-12
    assert abs(out[1].top2gram_char_frac - 9 / 11) < 1e-12
    # doc 1 dup 3-grams: "a b a" x2 + "b a b" x2 -> (2+2)*5 = 20 chars / 11
    assert abs(out[1].dup3gram_char_frac - 20 / 11) < 1e-12
    assert out[2].frac_repeated_tokens == 0.0
    assert out[2].dup3gram_char_frac == 0.0
    # doc 3: top 2-gram "q q" x4 -> 4*3=12 chars over 9
    assert abs(out[3].frac_repeated_tokens - (1 - 1 / 5)) < 1e-12
    assert abs(out[3].top2gram_char_frac - 12 / 9) < 1e-12


def test_dedup_lines_keeps_first_occurrence(spark):
    from gmall_flink_20_spark.operators import cleaning

    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\ngamma"),
            (2, "beta\ndelta"),        # beta already seen in doc 1
            (3, "alpha\nbeta"),        # fully duplicated -> doc drops out
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in cleaning.dedup_lines(df).collect()}
    assert out == {1: "alpha\nbeta\ngamma", 2: "delta"}


def test_kmeans_assign_matches_centroid_argmin(spark):
    import numpy as np

    from gmall_flink_20_spark.operators import ann

    rng = np.random.RandomState(7)
    # spherical k-means clusters DIRECTIONS: even ids point into the first
    # 4 dims, odd ids into the last 4 (disjoint support -> orthogonal)
    rows = []
    for i in range(40):
        v = [float(x) for x in rng.rand(4) + 0.5]
        rows.append((i, (v + [0.0] * 4) if i % 2 == 0 else ([0.0] * 4 + v)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.cluster_id for r in ann.kmeans_assign(df, nlist=4, iters=2, dim=8).collect()}
    assert set(out) == set(range(40))
    even = {out[i] for i in range(0, 40, 2)}
    odd = {out[i] for i in range(1, 40, 2)}
    assert even.isdisjoint(odd)


def test_approx_quantiles_checked_bounds(spark):
    from gmall_flink_20_spark.operators import sketches

    # heavy ties + skew: the adversarial shape for rank-bound checks
    rows = [("a", v % 7) for v in range(500)] + [("b", 1) for _ in range(200)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r.g: r for r in sketches.approx_quantiles_checked(df, "g", "v").collect()}
    assert out["a"].n_rows == 500 and out["b"].n_rows == 200
    for g in ("a", "b"):
        assert all(
            getattr(out[g], c) for c in ("q25_ok", "q50_ok", "q75_ok", "q90_ok")
        ), out[g]


# ------------------------------------------------------------------- PQ


def test_pq_duplicate_vectors_get_identical_codes(spark):
    from gmall_flink_20_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = ann.pq_train_local(emb, m=8, subdim=8, ks=16, iters=1)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(cv) == 8 for b in books for _, cv in b)
    enc = ann._pq_encode_udf(books, 8, 8)
    # a vector duplicated under two ids encodes to the same codes
    dup = emb.limit(1).select(F.lit(900001).alias("vec_id"), "embedding").unionByName(
        emb.limit(1).select(F.lit(900002).alias("vec_id"), "embedding")
    )
    rows = dup.select("vec_id", enc(F.col("embedding")).alias("codes")).collect()
    assert rows[0].codes == rows[1].codes
    assert all(0 <= c < 16 for c in rows[0].codes)


def test_pq_topk_ranks_dense_and_recall_positive(spark):
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = ann.ann_pq_topk(emb, query_ids=[0, 1, 2], k=5).collect()
    by_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2}
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]
    # ADC is approximate, but on real data it must overlap the exact
    # top-20 cosine neighbors for most queries (sanity, not a tight bound)
    exact = similarity.ann_bruteforce_topk(emb, [0, 1, 2], 20)
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(
        len(set(n for q2, n in [(r.query_id, r.neighbor_id) for r in out if r.query_id == q]) & exact_sets[q])
        for q in by_q
    )
    assert hits >= 3


def test_kmeans_memo_is_semantically_invisible(spark):
    """The trained-quantizer memo must (a) return bit-identical centroids
    on a hit, (b) actually hit for a semantically identical input plan,
    and (c) miss when params or the plan differ."""
    import numpy as np

    from gmall_flink_20_spark.operators import ann

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.rand(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ann._ARTIFACT_MEMO.clear()
    first = ann.kmeans_centroids_local(df, nlist=4, iters=2, dim=8)
    assert len(ann._ARTIFACT_MEMO) == 1
    # a fresh but semantically identical frame hits the memo
    df2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    if df2.sameSemantics(df):  # createDataFrame plans may differ by id
        again = ann.kmeans_centroids_local(df2, nlist=4, iters=2, dim=8)
        assert len(ann._ARTIFACT_MEMO) == 1
    else:
        again = ann.kmeans_centroids_local(df, nlist=4, iters=2, dim=8)
        assert len(ann._ARTIFACT_MEMO) == 1
    assert again == first
    # hit returns a COPY: mutating the result must not poison the memo
    again[0][1][0] = 999.0
    assert ann.kmeans_centroids_local(df, nlist=4, iters=2, dim=8) == first
    # different params -> new artifact
    other = ann.kmeans_centroids_local(df, nlist=2, iters=2, dim=8)
    assert len(ann._ARTIFACT_MEMO) == 2
    assert other != first
    # filtered plan -> new artifact (different data, different centroids)
    sliced = ann.kmeans_centroids_local(
        df.filter("vec_id < 20"), nlist=4, iters=2, dim=8
    )
    assert len(ann._ARTIFACT_MEMO) == 3
    assert sliced != first
    ann._ARTIFACT_MEMO.clear()


def test_pagerank_star_and_mass_conservation(spark):
    from gmall_flink_20_spark.operators import graph

    # undirected star a-b, a-c (symmetric directed edges): the hub must
    # out-rank the leaves, leaves tie by symmetry
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (0, 2, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double",
    )
    pr = {r.node: r.pr for r in graph.pagerank(edges, iters=5, weight_col="w").collect()}
    assert pr[0] > pr[1] == pr[2]
    # every node has out-edges here, so mass is conserved (round-8 slack)
    assert abs(sum(pr.values()) - 1.0) < 1e-6


def test_pagerank_broadcasts_ranks_per_superstep(spark):
    from gmall_flink_20_spark.operators import graph
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(i, (i + 1) % 20, 1.0) for i in range(20)], "src long, dst long, w double"
    )
    df = graph.pagerank(edges, iters=3, weight_col="w")
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    # each superstep joins the (tiny) rank frame by broadcast — the edge
    # frame must never be re-shuffled for the join
    import re

    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3


def test_profile_table_counts(spark):
    from gmall_flink_20_spark.operators import profiling

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, None, 4.0), (3, "a", None), (4, "b", 4.0)],
        "id long, s string, v double",
    )
    out = {r["column"]: r for r in profiling.profile_table(df).collect()}
    assert out["id"].n == 4 and out["id"].n_null == 0 and out["id"].n_distinct == 4
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2
    assert out["s"].min_num is None and out["s"].max_num is None
    assert out["v"].n_null == 1 and out["v"].min_num == 2.0 and out["v"].max_num == 4.0


def test_mg_heavy_hitters_bound_and_coverage(spark):
    from gmall_flink_20_spark.operators import sketches

    # adversarial: one dominant key + a churn of singletons that force
    # constant eviction in the per-partition sketches
    rows = [(0,)] * 500 + [(i,) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "k long").repartition(8)
    out = sketches.mg_heavy_hitters_checked(df, "k", k=8).collect()
    # only key 0 (500/900 = 55%) exceeds n/(k+1) = 100
    assert [r.item_id for r in out] == [0]
    assert out[0].exact_cnt == 500 and out[0].mg_within_bound


def test_split_assign_stable_under_growth(spark):
    """The docstring's core claim: a row's split NEVER changes when the
    corpus grows (hash-threshold splits are per-row, unlike ntile)."""
    from gmall_flink_20_spark.operators import sampling

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    small = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    s_small = {r.doc_id: r.split for r in sampling.split_assign(small, fr).collect()}
    s_big = {r.doc_id: r.split for r in sampling.split_assign(big, fr).collect()}
    assert all(s_big[k] == v for k, v in s_small.items())
    # partition exactly: every row in exactly one split, fractions sane
    from collections import Counter

    c = Counter(s_big.values())
    assert sum(c.values()) == 1000 and c["train"] > 700 and c["val"] > 30


def test_negative_samples_never_self(spark):
    from gmall_flink_20_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    out = sampling.negative_samples(df, k=4).collect()
    assert len(out) == 200
    assert all(r.neg_id != r.doc_id for r in out)
    assert all(0 <= r.neg_id < 50 for r in out)


def test_arrow_and_fold_bruteforce_kernels_agree(spark, sf_dir):
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    fold = {
        (r.query_id, r.rank): r.neighbor_id
        for r in similarity.ann_bruteforce_topk(emb, list(range(8)), 5).collect()
    }
    arrow = {
        (r.query_id, r.rank): r.neighbor_id
        for r in similarity.ann_bruteforce_topk_arrow(emb, list(range(8)), 5).collect()
    }
    assert fold == arrow


def test_artifact_memo_invalidates_on_file_rewrite(spark, tmp_path):
    """Rewriting the SAME path with different data must miss the memo:
    the fingerprint includes source-file (size, mtime) stats, so a plan
    whose semanticHash is unchanged still retrains (ADVICE r3)."""
    import time

    import numpy as np

    from gmall_flink_20_spark.operators import ann

    p = str(tmp_path / "emb.parquet")
    rng = np.random.RandomState(3)

    def write(seed):
        r = np.random.RandomState(seed)
        rows = [(i, [float(x) for x in r.rand(8)]) for i in range(30)]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(p)

    write(1)
    ann._ARTIFACT_MEMO.clear()
    first = ann.kmeans_centroids_local(spark.read.parquet(p), nlist=4, iters=2, dim=8)
    assert len(ann._ARTIFACT_MEMO) == 1
    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    write(2)
    second = ann.kmeans_centroids_local(spark.read.parquet(p), nlist=4, iters=2, dim=8)
    assert len(ann._ARTIFACT_MEMO) == 2, "rewrite at same path must invalidate"
    assert second != first
    ann.clear_artifact_memo()
    assert len(ann._ARTIFACT_MEMO) == 0



def test_memo_fingerprint_streaming_frame_keys_on_plan_and_logs_once(
    spark, tmp_path, caplog
):
    """A streaming frame has no input file listing: it is keyed on its
    plan alone, and the fallback says so once."""
    p = str(tmp_path / "src")
    spark.range(5).write.parquet(p)
    stream = spark.readStream.schema("id long").parquet(p)
    with caplog.at_level("WARNING", logger="gmall_flink_20_spark"):
        key = ann._memo_fingerprint(stream)
    assert key[0] == stream.semanticHash()
    assert key[2] == (("n_files", 0),)
    records = [r for r in caplog.records if r.name == "gmall_flink_20_spark"]
    assert len(records) == 1, [r.getMessage() for r in records]


def test_memo_fingerprint_other_errors_propagate(spark, monkeypatch):
    """Only Spark's no-file-listing error takes the plan-hash fallback;
    any other error from inputFiles() is raised."""
    import pytest

    def broken(self):
        raise RuntimeError("broken file listing")

    df = spark.range(3)
    monkeypatch.setattr(type(df), "inputFiles", broken)
    with pytest.raises(RuntimeError, match="broken file listing"):
        ann._memo_fingerprint(df)

def test_derive_nlist_and_semantic_dedup_wiring(spark):
    """nlist=None derives k = max(min, ceil(n/target)) and produces the
    same result as passing that k explicitly (VERDICT r3 item 4)."""
    import numpy as np

    from gmall_flink_20_spark.operators import ann

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.rand(8)]) for i in range(600)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert ann.derive_nlist(df, target_cluster_rows=64, min_nlist=4) == 10
    assert ann.derive_nlist(df, target_cluster_rows=256, min_nlist=8) == 8
    assert ann.derive_nlist(df.limit(100), target_cluster_rows=256) == 8

    derived = ann.semantic_dedup(
        df, threshold=0.9, dim=8, target_cluster_rows=64,
    ).toPandas().sort_values("vec_id", ignore_index=True)
    explicit = ann.semantic_dedup(
        df, threshold=0.9, nlist=10, dim=8,
    ).toPandas().sort_values("vec_id", ignore_index=True)
    assert derived.equals(explicit)
    # derived k actually materialized ~target-sized clusters
    assert derived["cluster_id"].nunique() == 10


def test_kmeans_training_job_count(spark):
    """Driver round-trip contract (VERDICT r3 item 7): training runs ONE
    action for init + one fused assign+mean action per Lloyd iteration —
    the persisted input means each action beyond the first reads the
    cache, so the source is scanned once. AQE splits each shuffle-agg
    action into ≤2 Spark jobs (stage materialization + result), hence
    the 1 + 2*iters bound; a regression to separate assign and mean
    passes would double it."""
    import numpy as np

    from gmall_flink_20_spark.operators import ann

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.rand(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sc = spark.sparkContext

    ann._ARTIFACT_MEMO.clear()
    sc.setJobGroup("km_train", "")
    ann.kmeans_centroids_local(df, nlist=4, iters=3, dim=8)
    n = len(sc.statusTracker().getJobIdsForGroup("km_train"))
    assert n <= 1 + 2 * 3, f"{n} jobs for iters=3 — extra per-iteration actions"

    # memo hit: zero jobs
    sc.setJobGroup("km_hit", "")
    ann.kmeans_centroids_local(df, nlist=4, iters=3, dim=8)
    assert len(sc.statusTracker().getJobIdsForGroup("km_hit")) == 0

    sc.setJobGroup("pq_train", "")
    ann.pq_train_local(df, m=2, subdim=4, ks=4, iters=2)
    n = len(sc.statusTracker().getJobIdsForGroup("pq_train"))
    assert n <= 1 + 2 * 2, f"{n} jobs for pq iters=2"
    ann._ARTIFACT_MEMO.clear()


def test_label_centroid_drift_semantics(spark):
    """Two labels in 2 known directions (padded to dim 4): label 0 along
    +x, label 1 along +y; global centroid at 45°. Also the degenerate
    zero-centroid case must yield NULL cosine, not inf."""
    import math

    from gmall_flink_20_spark.operators import similarity

    rows = [
        (0, [2.0, 0.0, 0.0, 0.0]),
        (0, [4.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 2.0, 0.0, 0.0]),
        (1, [0.0, 4.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label long, embedding array<double>")
    out = {
        r.label: r
        for r in similarity.label_centroid_drift(df, dim=4).collect()
    }
    # label centroids (3,0), (0,3); global (1.5,1.5) -> cos 45°
    for lab in (0, 1):
        assert out[lab].n == 2
        assert abs(out[lab].cos_to_global - round(1 / math.sqrt(2), 6)) < 1e-9
        assert abs(out[lab].l2_to_global - round(math.sqrt(1.5**2 + 1.5**2), 6)) < 1e-9

    # degenerate: opposite labels cancel -> zero global centroid -> NULL
    rows2 = [(0, [1.0, 0.0]), (1, [-1.0, 0.0])]
    df2 = spark.createDataFrame(rows2, "label long, embedding array<double>")
    got = {r.label: r for r in similarity.label_centroid_drift(df2, dim=2).collect()}
    assert got[0].cos_to_global is None and got[1].cos_to_global is None
    assert got[0].l2_to_global == 1.0


def test_dedup_survivors_invariants(spark, sf_dir):
    """Every cluster appears exactly once; the named survivor has the
    cluster-max token count (ties to lowest id); singleton clusters
    survive themselves."""
    from gmall_flink_20_spark.operators import components, dedup, text
    from gmall_flink_20_spark.io import load_table
    from gmall_flink_20_spark.queries import QUERIES

    out = QUERIES["docs_dedup_survivors"](spark, sf_dir).toPandas()
    assert out["cluster_id"].is_unique

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.neardup_verified(docs, parallelism=8)
    cl = components.neardup_clusters(pairs).toPandas()
    toks = text.token_count(docs).toPandas().set_index("doc_id")["n_tokens"]
    members = cl.groupby("cluster_id")["doc_id"].apply(list).to_dict()
    surv = out.set_index("cluster_id")
    for cid, mem in members.items():
        row = surv.loc[cid]
        best = sorted(mem, key=lambda d: (-toks[d], d))[0]
        assert row["doc_id"] == best
        assert row["n_members"] == len(mem)
    # singletons: clusters of size 1 in the output are docs not in any pair
    clustered = set(cl["doc_id"])
    singles = surv[surv["n_members"] == 1]
    assert not (set(singles["doc_id"]) & clustered) or all(
        len(members.get(c, [1])) == 1 for c in singles.index
    )


def test_pq_reconstruction_error_semantics(spark):
    """A corpus that IS the codebook reconstructs exactly (err 0); a
    far-away vector gets the distance to its nearest codeword."""
    from gmall_flink_20_spark.operators import ann

    ann._ARTIFACT_MEMO.clear()
    # dim 4, m=2 subspaces of 2; ks=2 codewords from ids 0,1
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [10.0, 0.0, 0.0, 0.0]),
        (2, [10.0, 1.0, 0.0, 0.0]),  # 1.0 off codeword 1 in subspace 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.recon_err
        for r in ann.pq_reconstruction_error(
            df, m=2, subdim=2, ks=2, iters=0
        ).collect()
    }
    assert out[0] == 0.0 and out[1] == 0.0
    assert out[2] == 1.0  # (10,1) vs codeword (10,0): d2 = 1
    ann._ARTIFACT_MEMO.clear()
