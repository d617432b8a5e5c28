"""Training-data operators: dedup (exact / MinHash-LSH / SimHash /
embedding), ANN similarity, text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    base_texts = []
    for i in range(40):
        words = [vocab[j] for j in rng.randint(0, 300, 60)]
        base_texts.append(" ".join(words))
    doc_id = 0
    for i, text in enumerate(base_texts):
        rows.append((doc_id, text, i))
        doc_id += 1
        if i < 10:  # exact duplicate
            rows.append((doc_id, text, i))
            doc_id += 1
        if 10 <= i < 20:  # near duplicate: tweak 3 words
            words = text.split()
            for p in rng.randint(0, len(words), 3):
                words[p] = vocab[rng.randint(0, 300)]
            rows.append((doc_id, " ".join(words), i))
            doc_id += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "family"]))


def test_exact_dedup(spark, docs):
    from rustiflow_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs, ["text"], "doc_id").toPandas()
    assert (out["copies"] >= 2).sum() == 10
    assert out["copies"].sum() == docs.count()


def test_minhash_lsh_dedup_finds_near_dups(spark, docs):
    from rustiflow_spark.operators.dedup import minhash_lsh_dedup

    clusters = minhash_lsh_dedup(
        docs, "doc_id", "text", num_perm=64, bands=16, shingle_k=5, threshold=0.6
    ).toPandas()
    pdf = docs.toPandas()
    fam_of = dict(zip(pdf["doc_id"], pdf["family"]))
    cl = clusters.set_index("doc_id")["cluster_id"]
    # every exact-duplicate pair must share a cluster
    fams = pdf.groupby("family")["doc_id"].apply(list)
    exact_pairs = [ids for f, ids in fams.items() if f < 10 and len(ids) == 2]
    for ids in exact_pairs:
        assert cl[ids[0]] == cl[ids[1]], f"exact dup split: {ids}"
    # most near-dup pairs (3/60 words changed -> jaccard ~0.9) found
    near_pairs = [ids for f, ids in fams.items() if 10 <= f < 20 and len(ids) == 2]
    found = sum(cl[i] == cl[j] for i, j in near_pairs)
    assert found >= len(near_pairs) * 0.8
    # no cross-family merges
    merged = clusters.merge(pdf[["doc_id", "family"]], on="doc_id")
    fam_per_cluster = merged.groupby("cluster_id")["family"].nunique()
    assert (fam_per_cluster == 1).all()


def test_simhash_neardups(spark, docs):
    from rustiflow_spark.operators.dedup import simhash_neardup_pairs, simhash_signatures

    sigs = simhash_signatures(docs, "doc_id", "text")
    pairs = simhash_neardup_pairs(sigs, "doc_id", max_hamming=6, bands=4).toPandas()
    pdf = docs.toPandas()
    fam_of = dict(zip(pdf["doc_id"], pdf["family"]))
    # exact duplicates have identical simhash -> hamming 0, all found
    fams = pdf.groupby("family")["doc_id"].apply(list)
    exact_pairs = {tuple(sorted(ids)) for f, ids in fams.items() if f < 10 and len(ids) == 2}
    got_pairs = {tuple(sorted(p)) for p in zip(pairs["id_a"], pairs["id_b"])}
    assert exact_pairs <= got_pairs
    # hamming values are consistent
    assert (pairs["hamming"] <= 6).all()
    # no wildly-unrelated pair (different families) at hamming 0
    zero = pairs[pairs["hamming"] == 0]
    for _, r in zero.iterrows():
        assert fam_of[r["id_a"]] == fam_of[r["id_b"]]


def test_embedding_neardup_and_ann(spark):
    from rustiflow_spark.operators.dedup import embedding_neardup
    from rustiflow_spark.operators.similarity import ann_topk_lsh, brute_force_topk

    rng = np.random.RandomState(9)
    base = rng.randn(30, 16)
    rows = []
    vid = 0
    for i in range(30):
        rows.append((vid, base[i].tolist(), i))
        vid += 1
        if i < 8:  # near-duplicate vector
            noisy = base[i] + rng.randn(16) * 0.01
            rows.append((vid, noisy.tolist(), i))
            vid += 1
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding", "family"]))

    near = embedding_neardup(df, "vec_id", "embedding", threshold=0.98, n_planes=8).toPandas()
    pdf = df.toPandas()
    fam_of = dict(zip(pdf["vec_id"], pdf["family"]))
    for _, r in near.iterrows():
        assert fam_of[r["id_a"]] == fam_of[r["id_b"]]
    assert len(near) >= 5  # most of the 8 planted pairs survive bucketing

    # ANN vs brute force: recall@5 of LSH with generous tables
    queries = df.filter(F.col("vec_id") < 6)
    exact = brute_force_topk(df, queries, k=5).toPandas()
    approx = ann_topk_lsh(df, queries, k=5, n_planes=4, n_tables=8).toPandas()
    recall = 0.0
    for q in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == q]["neighbor_id"])
        a = set(approx[approx["query_id"] == q]["neighbor_id"])
        recall += len(e & a) / len(e)
    recall /= exact["query_id"].nunique()
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_ann_ivf(spark):
    from rustiflow_spark.operators.similarity import (
        ann_topk_ivf,
        brute_force_topk,
        ivf_fit,
    )

    rng = np.random.RandomState(21)
    # 4 well-separated clusters of 15 vectors each
    centers = rng.randn(4, 16) * 4
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(15):
            rows.append((vid, (centers[c] + rng.randn(16) * 0.3).tolist(), c))
            vid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "family"])
    )
    seed_ids = [0, 15, 30, 45]

    # the fit is deterministic: same input -> bit-identical codebook
    c1 = ivf_fit(df, n_lists=4, iters=2, seed_ids=seed_ids)
    c2 = ivf_fit(df.repartition(7), n_lists=4, iters=2, seed_ids=seed_ids)
    assert (c1 == c2).all(), "integer Lloyd must be partition-invariant"

    queries = df.filter(F.col("vec_id").isin([0, 16, 31, 46]))
    approx = ann_topk_ivf(
        df, queries, k=5, n_lists=4, nprobe=1, iters=2, seed_ids=seed_ids
    ).toPandas()
    exact = brute_force_topk(df, queries, k=5).toPandas()
    recall = 0.0
    for q in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == q]["neighbor_id"])
        a = set(approx[approx["query_id"] == q]["neighbor_id"])
        recall += len(e & a) / len(e)
    recall /= exact["query_id"].nunique()
    # separated clusters + nprobe=1: the home list holds the true neighbors
    assert recall >= 0.9, f"IVF recall too low on separated clusters: {recall}"

    # duplicate seed ids collapse a list to emptiness mid-fit; the empty
    # cluster must keep its previous centroid instead of crashing
    c3 = ivf_fit(df, n_lists=4, iters=2, seed_ids=[0, 1, 30, 45])
    assert c3.shape == c1.shape

    # sampled fit (THE 100-TB path): a codebook trained on ~half the
    # corpus must still probe to >=0.9 recall on separated clusters
    cs = ivf_fit(df, n_lists=4, iters=2, sample_fraction=0.5, sample_seed=11)
    assert cs.shape == c1.shape
    # the sample is a deterministic hash draw, so the SAMPLED codebook is
    # partition-invariant too (Bernoulli .sample() would not be: its
    # per-partition RNG changes the training set with the partition count)
    cs2 = ivf_fit(
        df.repartition(7), n_lists=4, iters=2,
        sample_fraction=0.5, sample_seed=11,
    )
    assert (cs == cs2).all(), "sampled fit must be partition-invariant"
    approx_s = ann_topk_ivf(
        df, queries, k=5, n_lists=4, nprobe=2, centroids=cs
    ).toPandas()
    recall_s = 0.0
    for q in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == q]["neighbor_id"])
        a = set(approx_s[approx_s["query_id"] == q]["neighbor_id"])
        recall_s += len(e & a) / len(e)
    recall_s /= exact["query_id"].nunique()
    assert recall_s >= 0.9, f"sampled-fit IVF recall too low: {recall_s}"

    # sampled fit through the ann_topk_ivf front door + validation
    out = ann_topk_ivf(
        df, queries, k=3, n_lists=4, nprobe=2, fit_sample_fraction=0.5
    )
    assert out.count() == 4 * 3
    with pytest.raises(ValueError):
        ivf_fit(df, n_lists=4, sample_fraction=0.0)


def test_text_stats_and_langid(spark):
    from rustiflow_spark.operators.textstats import (
        document_fingerprint,
        language_id,
        quality_features,
        token_count_features,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "the cat and the dog sat in the house for a while",
                "der Hund ist nicht mit der Katze und das ist gut",
                "le chat est dans la maison pour les vacances et la mer",
                "xyzzy qwerty plugh",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    t = token_count_features(df, "text").toPandas().set_index("doc_id")
    assert t.loc[0, "ws_token_count"] == 12
    q = quality_features(df, "text").toPandas().set_index("doc_id")
    assert q.loc[0, "q_words"] == 12
    assert 0 <= q.loc[0, "q_punct_ratio"] < 0.05
    l = language_id(df, "text").toPandas().set_index("doc_id")
    assert l.loc[0, "lang_pred"] == "en"
    assert l.loc[1, "lang_pred"] == "de"
    assert l.loc[2, "lang_pred"] == "fr"
    assert l.loc[3, "lang_pred"] == "unknown"
    fp = document_fingerprint(df, "doc_id", "text").toPandas()
    assert fp["fingerprint"].nunique() == 4
    # fingerprint is deterministic
    fp2 = document_fingerprint(df, "doc_id", "text").toPandas()
    assert fp.sort_values("doc_id")["fingerprint"].tolist() == fp2.sort_values("doc_id")["fingerprint"].tolist()


def test_multimodal_plumbing(spark):
    from rustiflow_spark.operators.multimodal import (
        extract_media_features,
        generate_media_table,
        real_decoder,
        sample_video_frames,
    )

    media = generate_media_table(spark, n=30)
    feats = extract_media_features(media).toPandas()
    assert len(feats) == 30
    assert feats["decode_ok"].all()
    assert all(len(f) == 16 for f in feats["feature"])
    # deterministic across runs
    feats2 = extract_media_features(media).toPandas()
    a = np.stack(feats.sort_values("media_id")["feature"].to_numpy())
    b = np.stack(feats2.sort_values("media_id")["feature"].to_numpy())
    assert np.allclose(a, b)

    # stubbed real decoder flags failure rather than crashing the job
    stubbed = extract_media_features(media, decode_fn=real_decoder).toPandas()
    assert (~stubbed["decode_ok"]).all()

    frames = sample_video_frames(media, every_n=4).toPandas()
    assert (frames["frame_idx"] % 4 == 0).all()
    n_video = media.filter("kind = 'video'").count()
    assert frames["media_id"].nunique() == n_video


def test_minhash_finds_planted_neardups_in_driver_documents(spark):
    """The driver's synthetic documents table contains planted near-duplicate
    pairs (shingle-set Jaccard up to 1.0 despite distinct doc_ids —
    discovered during verification). The MinHash pipeline must find them."""
    from rustiflow_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_verify,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = minhash_signatures(docs, "text")
    cands = minhash_lsh_candidates(sigs, "doc_id")
    verified = ngram_jaccard_verify(docs, cands, "doc_id", "text", threshold=0.99)
    pairs = verified.toPandas()
    assert len(pairs) >= 3
    assert (pairs["jaccard"] >= 0.99).all()


def test_lsh_bucket_cap_bounds_degenerate_fanout(spark):
    """A corpus dominated by one constant document must not go quadratic:
    oversized LSH buckets are dropped before the self-join, while distinct
    near-dup pairs outside the degenerate bucket still surface."""
    from pyspark.sql import functions as F

    from rustiflow_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    n_const = 60
    rows = [(i, "the exact same boilerplate text repeated everywhere")
            for i in range(n_const)]
    rows += [(1000, "a genuinely unique document about distributed joins"),
             (1001, "a genuinely unique document about distributed joinz")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs, "text")
    # cap below the degenerate bucket size: its 60*59/2 = 1770 pairs vanish
    cands = minhash_lsh_candidates(sigs, "doc_id", max_bucket_size=50).toPandas()
    assert len(cands) <= 10, f"degenerate bucket leaked {len(cands)} pairs"
    near = cands[(cands.id_a == 1000) & (cands.id_b == 1001)]
    assert len(near) == 1, "genuine near-dup pair lost by the cap"
    # without the cap the degenerate bucket explodes
    uncapped = minhash_lsh_candidates(sigs, "doc_id", max_bucket_size=10**9).count()
    assert uncapped >= n_const * (n_const - 1) // 2


def test_exact_dedup_member_cap(spark):
    from rustiflow_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(i, "same") for i in range(20)] + [(99, "other")], ["doc_id", "text"]
    )
    out = exact_dedup(docs, ["text"], "doc_id", max_members=5).toPandas()
    big = out[out.copies == 20].iloc[0]
    assert big["keeper_id"] == 0 and len(big["member_ids"]) == 5
    assert list(big["member_ids"]) == [0, 1, 2, 3, 4]


def test_cluster_min_id_persist_modes(spark, tmp_path):
    """Fault-tolerance knobs must not change results: localCheckpoint,
    persist(DISK_ONLY) and reliable checkpoint produce identical components,
    including on a chain graph whose diameter needs many propagation
    rounds."""
    from rustiflow_spark.operators.dedup import cluster_min_id

    # a 12-node chain (worst case for label propagation) + a triangle + isolates
    chain = [(i, i + 1) for i in range(11)]
    tri = [(20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in chain + tri], ["id_a", "id_b"]
    )
    all_ids = spark.createDataFrame([(i,) for i in range(25)], ["doc_id"])

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    results = {}
    for mode in ("local", "disk", "checkpoint"):
        got = (
            cluster_min_id(pairs, all_ids, "doc_id", max_iter=20, persist=mode)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        results[mode] = got

    base = results["local"]
    # chain collapses to 0, triangle to 20, isolates to themselves
    expect = {i: 0 for i in range(12)}
    expect.update({20: 20, 21: 20, 22: 20})
    expect.update({i: i for i in (12, 13, 14, 15, 16, 17, 18, 19, 23, 24)})
    got_map = dict(zip(base["doc_id"], base["cluster_id"]))
    assert got_map == expect, got_map
    for mode in ("disk", "checkpoint"):
        pd.testing.assert_frame_equal(base, results[mode])


def test_deterministic_sampling_and_split(spark):
    """sampling.py: membership is a pure function of the id — stable under
    repartitioning, disjoint+exhaustive splits, approximate rates, and a
    scan-pushable filter (no shuffle in the plan)."""
    from rustiflow_spark.operators.sampling import (
        deterministic_sample,
        stratified_mix,
        with_split,
    )

    df = spark.range(20_000).selectExpr(
        "id AS doc_id",
        "concat('s', cast(id % 4 as string)) AS source",
    )

    samp = deterministic_sample(df, "doc_id", 0.25, seed=3)
    n = samp.count()
    assert abs(n / 20_000 - 0.25) < 0.02
    # stability: same membership regardless of partitioning
    ids_a = {r.doc_id for r in samp.collect()}
    ids_b = {
        r.doc_id
        for r in deterministic_sample(
            df.repartition(13), "doc_id", 0.25, seed=3
        ).collect()
    }
    assert ids_a == ids_b
    # monotone: raising the fraction only ADDS rows (same mix, higher cut)
    ids_c = {
        r.doc_id
        for r in deterministic_sample(df, "doc_id", 0.5, seed=3).collect()
    }
    assert ids_a <= ids_c
    # filter is scan-level: no Exchange in the plan
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    mixed = stratified_mix(
        df, "source", {"s0": 1.0, "s1": 0.5, "s2": 0.0}, "doc_id",
        default_rate=0.25,
    )
    by_src = {r.source: r.n for r in
              mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["s0"] == 5000
    assert abs(by_src["s1"] / 5000 - 0.5) < 0.05
    assert "s2" not in by_src
    assert abs(by_src["s3"] / 5000 - 0.25) < 0.05

    split = with_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in
              split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20_000  # disjoint + exhaustive
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    # append-stability: a row's split is unchanged when computed on a subset
    sub = with_split(df.where("doc_id < 1000"), "doc_id",
                     {"train": 0.8, "val": 0.1, "test": 0.1})
    full = {r.doc_id: r.split for r in split.where("doc_id < 1000").collect()}
    for r in sub.collect():
        assert full[r.doc_id] == r.split


def test_range_join(spark):
    from rustiflow_spark.operators.intervals import range_join

    ev = spark.createDataFrame(
        pd.DataFrame({"eid": range(100), "ts_us": [i * 1_000_000 for i in range(100)],
                      "k": [i % 3 for i in range(100)]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame({
            "iid": [0, 1, 2],
            "lo": [5_000_000, 50_000_000, 98_000_000],
            "hi": [10_000_000, 70_000_000, 200_000_000],
        })
    )
    got = (
        range_join(ev, iv, "ts_us", "lo", "hi", bucket_width_us=7_000_000)
        .groupBy("iid").count().toPandas().set_index("iid")["count"]
    )
    # inclusive bounds: [5,10]s -> 6 events, [50,70]s -> 21, [98,199]s -> 2
    assert got.to_dict() == {0: 6, 1: 21, 2: 2}

    # no duplicate pairs even when an interval spans many buckets
    pairs = range_join(ev, iv, "ts_us", "lo", "hi", bucket_width_us=1_000_000)
    assert pairs.count() == pairs.dropDuplicates(["eid", "iid"]).count() == 29

    # extra equality keys restrict the match
    iv2 = iv.withColumn("k", F.lit(0))
    # only every-3rd event (k=0) matches: {6,9} + {51..69 step 3} + {99}
    with_key = range_join(ev, iv2, "ts_us", "lo", "hi", 7_000_000, extra_keys=["k"])
    assert with_key.count() == 10

    # fan-out guard fails loudly
    import pytest as _pytest
    with _pytest.raises(Exception, match="buckets"):
        range_join(ev, iv, "ts_us", "lo", "hi", bucket_width_us=1_000, max_fanout=10).count()

    # ...including for spans far past sequence()'s own array-length limit:
    # OUR message, evaluated before the sequence is ever materialized
    huge = spark.createDataFrame(pd.DataFrame({"iid": [9], "lo": [0], "hi": [10**14]}))
    with _pytest.raises(Exception, match="buckets"):
        range_join(ev, huge, "ts_us", "lo", "hi", bucket_width_us=1, max_fanout=4096).count()

    # hot-bucket salting changes the shuffle, never the result
    plain = range_join(ev, iv, "ts_us", "lo", "hi", 7_000_000).toPandas()
    salted = range_join(ev, iv, "ts_us", "lo", "hi", 7_000_000, n_salts=8).toPandas()
    key = ["eid", "iid"]
    assert sorted(map(tuple, plain[key].values.tolist())) == sorted(
        map(tuple, salted[key].values.tolist())
    )
    assert "__rs" not in salted.columns


def test_time_bucket_rollup_cascade(spark):
    from rustiflow_spark.operators.intervals import rollup_coarser, time_bucket_rollup

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({
        "ts_us": rng.randint(0, 7200 * 1_000_000, size=5000),
        "g": rng.choice(["a", "b"], size=5000),
        "v": np.round(rng.randn(5000) * 10, 2),
    })
    df = spark.createDataFrame(pdf)
    fine = time_bucket_rollup(df, "ts_us", 60, ["g"], "v")
    coarse = rollup_coarser(fine, 3600, ["g"], fine_width_s=60).toPandas()
    direct = time_bucket_rollup(df, "ts_us", 3600, ["g"], "v").toPandas()
    c = coarse.sort_values(["g", "bucket_s"]).reset_index(drop=True)
    d = direct.sort_values(["g", "bucket_s"]).reset_index(drop=True)
    # cascade is lossless: coarse-from-fine == coarse-from-raw, exactly
    pd.testing.assert_frame_equal(c[d.columns], d)


def test_hll_sketch(spark):
    from rustiflow_spark.operators.sketches import (
        hll_count_distinct,
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    pdf = pd.DataFrame({
        "key": [f"user-{i % 2000}" for i in range(10000)],
        "g": ["x"] * 10000,
    })
    df = spark.createDataFrame(pdf)
    est = hll_count_distinct(df, "key", ["g"], p=12).toPandas()
    assert abs(est["hll_estimate"][0] - 2000) / 2000 < 0.05  # ~1.6% expected

    # determinism + partition invariance
    est2 = hll_count_distinct(df.repartition(17), "key", ["g"], p=12).toPandas()
    assert est["hll_estimate"][0] == est2["hll_estimate"][0]

    # sketch merge is an idempotent union: merging a subset's sketch into
    # the full sketch changes nothing
    h1 = hll_registers(df.limit(4000), "key", ["g"])
    h2 = hll_registers(df, "key", ["g"])
    merged = hll_estimate(hll_merge(h1.unionByName(h2), ["g"]), ["g"]).toPandas()
    assert merged["hll_estimate"][0] == est["hll_estimate"][0]


def test_hdr_quantiles(spark):
    from rustiflow_spark.operators.sketches import (
        hdr_histogram,
        hdr_merge,
        hdr_quantiles,
    )

    rng = np.random.RandomState(31)
    pdf = pd.DataFrame({
        "g": rng.choice(["a", "b"], size=20000),
        "v": np.abs(rng.lognormal(3, 1.5, size=20000)),
    })
    df = spark.createDataFrame(pdf)
    hist = hdr_histogram(df, "v", ["g"], sub_bits=6)
    est = hdr_quantiles(hist, ["g"], [0.5, 0.99], sub_bits=6).toPandas()
    for g in ("a", "b"):
        vals = pdf[pdf.g == g]["v"].to_numpy()
        for p in (0.5, 0.99):
            exact = np.quantile(vals, p, method="inverted_cdf")
            got = est[(est.g == g) & (abs(est.p - p) < 1e-9)]["quantile"].iloc[0]
            # 2^-6 relative error bound on the bucket lower bound
            assert abs(got - exact) / exact < 2 ** -5, (g, p, got, exact)

    # partition invariance + shard merge
    est2 = hdr_quantiles(
        hdr_histogram(df.repartition(13), "v", ["g"], sub_bits=6), ["g"], [0.5, 0.99]
    ).toPandas()
    m = est.merge(est2, on=["g", "p"], suffixes=("_1", "_2"))
    assert (m.quantile_1 == m.quantile_2).all()
    h1 = hdr_histogram(df.where("v < 20"), "v", ["g"], sub_bits=6)
    h2 = hdr_histogram(df.where("v >= 20"), "v", ["g"], sub_bits=6)
    est3 = hdr_quantiles(hdr_merge(h1.unionByName(h2), ["g"]), ["g"], [0.5, 0.99]).toPandas()
    m3 = est.merge(est3, on=["g", "p"], suffixes=("_1", "_3"))
    assert (m3.quantile_1 == m3.quantile_3).all()

    # negative values fail loudly
    import pytest as _pytest
    bad = spark.createDataFrame(pd.DataFrame({"g": ["a"], "v": [-1.0]}))
    with _pytest.raises(Exception):
        hdr_histogram(bad, "v", ["g"]).count()


def test_cms_sketch(spark):
    from rustiflow_spark.operators.sketches import cms_estimate, cms_merge, cms_sketch

    rng = np.random.RandomState(41)
    # zipf-ish: key 0 is hot, long tail
    keys = np.concatenate([np.zeros(5000, dtype=int), rng.randint(1, 50000, 15000)])
    pdf = pd.DataFrame({"k": keys, "g": ["x"] * len(keys)})
    df = spark.createDataFrame(pdf)
    sk = cms_sketch(df, "k", ["g"], depth=4, width_bits=12)
    probe = spark.createDataFrame(pd.DataFrame({"k": [0, 1, 999999]}))
    est = cms_estimate(sk, probe, "k", ["g"], depth=4, width_bits=12).toPandas()
    e = est.set_index("k")["cms_estimate"]
    exact0 = (pdf.k == 0).sum()
    # CMS never underestimates; hot key stays near exact
    assert e[0] >= exact0 and e[0] <= exact0 * 1.1
    assert e[1] >= (pdf.k == 1).sum()
    # an absent key estimates near zero (0 or small collision mass)
    assert e[999999] <= len(pdf) * 0.01

    # merge across shards == sketch of the union (bit-exact counters)
    s1 = cms_sketch(df.where("k % 2 = 0"), "k", ["g"], depth=4, width_bits=12)
    s2 = cms_sketch(df.where("k % 2 = 1"), "k", ["g"], depth=4, width_bits=12)
    merged = cms_merge(s1.unionByName(s2), ["g"])
    em = cms_estimate(merged, probe, "k", ["g"], depth=4, width_bits=12).toPandas()
    mm = est.merge(em, on=["g", "k"], suffixes=("_w", "_m"))
    assert (mm.cms_estimate_w == mm.cms_estimate_m).all()


def test_new_op_plans(spark):
    """Physical-plan assertions for the round-4 operators: the shapes that
    must hold at 100x scale."""
    from rustiflow_spark.operators.intervals import range_join, time_bucket_rollup
    from rustiflow_spark.operators.sketches import cms_sketch, hdr_histogram, hll_registers

    ev = spark.createDataFrame(
        pd.DataFrame({"ts_us": range(1000), "k": [i % 7 for i in range(1000)],
                      "v": [float(i % 50) for i in range(1000)],
                      "g": ["a"] * 1000})
    )
    iv = spark.createDataFrame(pd.DataFrame({"iid": [1, 2], "lo": [0, 500], "hi": [100, 900]}))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # range join: equi-join on the bucket, never a cartesian/BNLJ theta join
    p = plan(range_join(ev, iv, "ts_us", "lo", "hi", 100))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p

    # rollup: map-side partial aggregation before the exchange
    p = plan(time_bucket_rollup(ev, "ts_us", 60, ["g"], "v"))
    assert "partial_count" in p or "partial_sum" in p

    # sketches: partial agg + exactly one Exchange (shuffle only the tiny
    # register/bucket/counter tables, never a second pass)
    for sk in (
        hll_registers(ev, "k", ["g"]),
        hdr_histogram(ev, "v", ["g"]),
        cms_sketch(ev, "k", ["g"]),
    ):
        p = plan(sk)
        assert p.count("Exchange hashpartitioning") == 1, p
        assert "partial_" in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_zorder_layout_locality(spark):
    """Z-order locality: after layout_zorder, a selective predicate on
    EITHER interleaved dimension touches a small fraction of the output
    partitions (files) — a single-column sort only gives that for its
    leading column."""
    from rustiflow_spark.operators.layout import layout_zorder, zorder_key

    rng = np.random.RandomState(17)
    pdf = pd.DataFrame({
        "a": rng.randint(0, 1024, size=40000),
        "b": rng.randint(0, 1024, size=40000),
    })
    df = spark.createDataFrame(pdf)
    n_files = 32
    ranges = [(0, 1023), (0, 1023)]
    z = layout_zorder(df, ["a", "b"], ranges, n_files=n_files, bits=10)

    def touched(laid, pred):
        return (
            laid.withColumn("__pid", F.spark_partition_id())
            .where(pred)
            .select("__pid")
            .distinct()
            .count()
        )

    zc = z.cache(); zc.count()
    # ~1/32 of the value space on each axis
    t_a = touched(zc, "a between 0 and 31")
    t_b = touched(zc, "b between 0 and 31")
    # both dimensions skip: far fewer than all partitions
    assert t_a <= n_files // 2 and t_b <= n_files // 2, (t_a, t_b)

    # contrast: plain sort by a gives b-queries NO locality
    plain = df.repartitionByRange(n_files, "a").sortWithinPartitions("a")
    pc = plain.cache(); pc.count()
    assert touched(pc, "a between 0 and 31") <= 3
    assert touched(pc, "b between 0 and 31") >= n_files - 2
    zc.unpersist(); pc.unpersist()

    # key determinism + range clamp
    k1 = zorder_key(df, ["a", "b"], ranges, bits=10).toPandas()
    k2 = zorder_key(df.repartition(9), ["a", "b"], ranges, bits=10).toPandas()
    assert k1.sort_values(["a", "b"]).zkey.tolist() == k2.sort_values(["a", "b"]).zkey.tolist()

    # a range too wide for the bit budget fails loudly, not by wrapping
    import pytest as _pytest
    with _pytest.raises(ValueError, match="too wide"):
        zorder_key(df, ["a", "b"], [(0, 2**55), (0, 1023)], bits=16)


def test_vocab_topk(spark):
    from rustiflow_spark.operators.textstats import vocab_topk

    pdf = pd.DataFrame({"text": ["a b a c", "b a b", "c c a"]})
    df = spark.createDataFrame(pdf)
    uni = vocab_topk(df, "text", k=10).toPandas()
    assert uni[uni.term == "a"]["cnt"].iloc[0] == 4
    assert uni.iloc[0].term == "a" and uni.iloc[0].rnk == 1
    # ties (b=3, c=3) break lexicographically
    assert list(uni.term) == ["a", "b", "c"]

    bi = vocab_topk(df, "text", k=10, ngram=2).toPandas()
    assert bi[bi.term == "a b"]["cnt"].iloc[0] == 2  # "a b" in doc1 + doc2
    assert bi.cnt.sum() == 7  # 3 + 2 + 2 bigrams per doc

    # distributed top-k: TakeOrderedAndProject, not a global sort
    plan = vocab_topk(df, "text", k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    # documents shorter than the n-gram simply contribute nothing
    # (regression: sequence(1, 0) counted DOWN and slice(arr, 0, n) threw)
    short = spark.createDataFrame(pd.DataFrame({"text": ["solo", "a b"]}))
    out = vocab_topk(short, "text", k=10, ngram=2).toPandas()
    assert list(out.term) == ["a b"] and out.cnt.iloc[0] == 1


def test_redact_pii(spark):
    from rustiflow_spark.operators.textstats import redact_pii

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "write to alice.smith+x@corp.example.org or call +1 555 123 4567",
                "server at 192.168.10.45 logged card 4111111111111111",
                "nothing sensitive here at all",
            ],
        }
    )
    out = redact_pii(spark.createDataFrame(pdf), "text").toPandas().set_index("doc_id")
    assert out.loc[0, "pii_email_count"] == 1
    assert out.loc[0, "pii_phone_count"] == 1
    assert "<EMAIL>" in out.loc[0, "text_redacted"]
    assert "alice" not in out.loc[0, "text_redacted"]
    assert out.loc[1, "pii_ipv4_count"] == 1
    assert out.loc[1, "pii_longnum_count"] == 1
    assert "<IP>" in out.loc[1, "text_redacted"]
    assert "4111" not in out.loc[1, "text_redacted"]
    assert out.loc[2, "text_redacted"] == pdf.loc[2, "text"]
    assert (
        out.loc[2, ["pii_email_count", "pii_ipv4_count", "pii_phone_count", "pii_longnum_count"]]
        == 0
    ).all()


def test_tokenize_with_vocab(spark):
    from rustiflow_spark.operators.textstats import tokenize_with_vocab

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1],
                "text": ["a b  c unseen a", "c c b"],
            }
        )
    )
    vocab = spark.createDataFrame(
        pd.DataFrame({"term": ["a", "b", "c"], "tid": [1, 2, 3]})
    )
    out = (
        tokenize_with_vocab(docs, "doc_id", "text", vocab)
        .toPandas()
        .set_index("doc_id")["token_ids"]
    )
    # order preserved, doubled space dropped, OOV -> 0
    assert list(out.loc[0]) == [1, 2, 3, 0, 1]
    assert list(out.loc[1]) == [3, 3, 2]


def test_minhash_collapse_exact_matches_direct(spark, docs):
    """collapse_exact pre-collapses exact-dup cliques; output must be
    identical to the direct (all-rows) pipeline."""
    from rustiflow_spark.operators.dedup import minhash_lsh_dedup

    kw = dict(num_perm=64, bands=16, shingle_k=5, threshold=0.6)
    fast = minhash_lsh_dedup(docs, "doc_id", "text", collapse_exact=True, **kw)
    slow = minhash_lsh_dedup(docs, "doc_id", "text", collapse_exact=False, **kw)
    f = fast.toPandas().sort_values("doc_id").reset_index(drop=True)
    s = slow.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(f[["doc_id", "cluster_id", "is_keeper"]],
                                  s[["doc_id", "cluster_id", "is_keeper"]])


def test_ensure_min_parallelism(spark):
    from rustiflow_spark.parallelism import ensure_min_parallelism

    narrow = spark.range(100).coalesce(1)
    widened = ensure_min_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widened.count() == 100
    wide = spark.range(100).repartition(spark.sparkContext.defaultParallelism * 2)
    assert ensure_min_parallelism(wide) is wide


def test_shuffle_export_deterministic_and_contiguous(spark):
    from rustiflow_spark.operators.sampling import shuffle_export

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    a = shuffle_export(df, "doc_id", 8).orderBy("doc_id").toPandas()
    b = (
        shuffle_export(df.repartition(7), "doc_id", 8)
        .orderBy("doc_id")
        .toPandas()
    )
    # address is a pure function of id: partitioning-invariant
    assert a[["shard", "pos"]].values.tolist() == b[["shard", "pos"]].values.tolist()
    # every shard's positions are 1..n contiguous
    for s, grp in a.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(1, len(grp) + 1))
    # shards are reasonably balanced (uniform mix over 8 shards)
    sizes = a["shard"].value_counts()
    assert sizes.min() > 80 and sizes.max() < 175
    import pytest as _pt

    with _pt.raises(ValueError):
        shuffle_export(df, "doc_id", 0)


def test_temperature_mix_upweights_small_sources(spark):
    from pyspark.sql import functions as F

    from rustiflow_spark.operators.sampling import temperature_mix

    df = spark.range(10000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, "big").otherwise("small").alias("src"),
    )
    kept = (
        temperature_mix(df, "src", "doc_id", alpha=0.5, target_fraction=0.5)
        .groupBy("src")
        .count()
        .toPandas()
        .set_index("src")["count"]
    )
    # natural 80/20 -> alpha=0.5 keep-rates ratio sqrt(0.2/0.8)=0.5: the
    # small source's RATE must exceed the big source's
    rate_big = kept["big"] / 8000
    rate_small = kept["small"] / 2000
    assert rate_small > rate_big * 1.5
    # expected total ~50% of corpus
    assert 0.40 < (kept.sum() / 10000) < 0.60


def test_centroid_table_merge_and_values(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from rustiflow_spark.operators.similarity import centroid_table, group_centroids

    rng = np.random.RandomState(3)
    n, d = 300, 8
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "label": rng.randint(0, 4, n),
            "embedding": [rng.randn(d).astype("float32").tolist() for _ in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    cents = group_centroids(df, "label", "embedding", scale=1 << 20).toPandas()
    for _, r in cents.iterrows():
        sub = np.stack(
            [np.array(v, dtype="float64") for v in pdf[pdf["label"] == r["label"]]["embedding"]]
        )
        assert np.allclose(np.array(r["centroid"]), sub.mean(axis=0), atol=1e-5)
        assert r["n"] == len(sub)
    # mergeability: per-half tables groupBy-sum to the whole table
    h0 = centroid_table(df.where("vec_id % 2 = 0"), "label", "embedding")
    h1 = centroid_table(df.where("vec_id % 2 = 1"), "label", "embedding")
    merged = (
        h0.unionByName(h1)
        .groupBy("label", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .orderBy("label", "pos")
        .toPandas()
    )
    whole = centroid_table(df, "label", "embedding").orderBy("label", "pos").toPandas()
    assert merged.values.tolist() == whole.values.tolist()
    # ragged-length vectors: positions average over rows that HAVE them
    rag = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1],
                "label": [9, 9],
                "embedding": [[2.0], [2.0, 4.0]],
            }
        )
    )
    c = group_centroids(rag, "label", "embedding", scale=1 << 20).toPandas()
    assert np.allclose(np.array(c["centroid"].iloc[0]), [2.0, 4.0], atol=1e-5)


def test_duplicate_token_spans_interval_union(spark):
    from rustiflow_spark.operators.dedup import duplicate_token_spans

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "tokens": [
                [1, 2, 3, 4, 5, 6],   # shares (1,2,3),(2,3,4) with doc 2
                [1, 2, 3, 4, 9, 9],
                [7, 8],               # shorter than the window
                [5, 5, 5, 5, 5],      # self-repetition: every gram dup
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        duplicate_token_spans(df, "doc_id", "tokens", window=3, min_count=2)
        .orderBy("doc_id")
        .toPandas()
    )
    # docs 1 and 2: dup starts {1,2} -> union covers tokens 1..4 = 3+1
    assert out["n_tok"].tolist() == [6, 6, 2, 5]
    assert out["n_windows"].tolist() == [4, 4, 0, 3]
    assert out["dup_windows"].tolist() == [2, 2, 0, 3]
    assert out["covered_tokens"].tolist() == [4, 4, 0, 5]
    assert out["dup_token_frac"].tolist() == [4 / 6, 4 / 6, 0.0, 1.0]
    # hash keying (production) and string keying (oracle) must agree
    alt = (
        duplicate_token_spans(
            df, "doc_id", "tokens", window=3, min_count=2, use_hash=False
        )
        .orderBy("doc_id")
        .toPandas()
    )
    assert alt.values.tolist() == out.values.tolist()


def test_semantic_dedup_marks_planted_pairs(spark):
    from rustiflow_spark.operators.dedup import semantic_dedup
    from rustiflow_spark.operators.similarity import ivf_fit

    rng = np.random.RandomState(11)
    rows = []
    # two well-separated groups around orthogonal axes
    for i in range(20):
        base = np.zeros(8)
        base[0 if i % 2 == 0 else 4] = 1.0
        v = base + rng.randn(8) * 0.02
        rows.append((i, v.astype("float64").tolist()))
    # planted exact copies of ids 0 and 1 (same cluster, cosine ~1)
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1]))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    cents = ivf_fit(df, n_lists=2, iters=2, seed_ids=[0, 1])
    out = semantic_dedup(
        df, "vec_id", "embedding", cents, tau_num=99, tau_den=100
    ).toPandas().set_index("vec_id")
    assert bool(out.loc[100, "is_dup"]) and out.loc[100, "dup_of"] == 0
    assert bool(out.loc[101, "is_dup"]) and out.loc[101, "dup_of"] == 1
    # the originals are the kept representatives
    assert not bool(out.loc[0, "is_dup"]) and not bool(out.loc[1, "is_dup"])
    # pairing is within-cluster only: every dup shares its rep's cluster
    assert out.loc[100, "cluster"] == out.loc[0, "cluster"]
    # a loose threshold inside one tight cluster dedups everything but
    # the smallest id (cosine of same-axis noisy vectors >> 0.5)
    loose = semantic_dedup(
        df, "vec_id", "embedding", cents, tau_num=1, tau_den=2
    ).toPandas()
    reps = loose[~loose["is_dup"]]
    assert (
        reps.groupby("cluster")["vec_id"].count() == 1
    ).all(), "one representative per cluster at a loose threshold"


def test_repetition_stats_hand_computed(spark):
    from rustiflow_spark.operators.textstats import repetition_stats

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a a b", "x y x y x y", "   "],
        }
    )
    out = (
        repetition_stats(spark.createDataFrame(pdf), "doc_id", "text")
        .orderBy("doc_id")
        .toPandas()
    )
    r1, r2, r3 = out.iloc[0], out.iloc[1], out.iloc[2]
    assert r1["n_words"] == 3
    assert r1["distinct_word_frac"] == 2 / 3
    assert r1["top_word_frac"] == 2 / 3
    assert r1["top_bigram_frac"] == 1 / 2   # "a a" and "a b" once each
    assert r1["dup_trigram_frac"] == 0.0    # single trigram occurs once
    assert r2["n_words"] == 6
    assert r2["distinct_word_frac"] == 2 / 6
    assert r2["top_word_frac"] == 3 / 6
    assert r2["top_bigram_frac"] == 3 / 5   # "x y" x3 of 5 positions
    assert r2["dup_trigram_frac"] == 1.0    # all 4 trigram positions dup
    assert r3["n_words"] == 0 and r3["dup_trigram_frac"] == 0.0


def test_range_join_shared_column_names(spark):
    """Both inputs carrying a same-named column (here 'ts') must not
    trigger an ambiguous-reference error: the operator resolves ts/lo/hi
    to reserved __-prefixed columns on their own side before the join."""
    from rustiflow_spark.operators.intervals import range_join

    ev = spark.createDataFrame(
        pd.DataFrame({"event_id": [1, 2, 3], "ts": [100, 250, 900]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame(
            {"interval_id": [10, 11], "ts": [0, 0], "lo": [90, 800], "hi": [260, 950]}
        )
    )
    out = range_join(ev, iv, "ts", "lo", "hi", bucket_width_us=100).toPandas()
    assert sorted(
        out[["event_id", "interval_id"]].itertuples(index=False, name=None)
    ) == [(1, 10), (2, 10), (3, 11)]


def test_ivf_assign_arrow_matches_catalyst_including_ties(spark):
    """The Arrow matmul assignment must be bit-identical to the Catalyst
    expression plan — including the tie-break (a duplicated centroid ties
    every vector between two indices; both modes must keep the lower)."""
    from rustiflow_spark.operators.similarity import ivf_assign, ivf_fit

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(64, dtype="int64"),
            "embedding": [rng.randn(16).tolist() for _ in range(64)],
        }
    )
    df = spark.createDataFrame(pdf)
    cents = ivf_fit(df, n_lists=4, iters=1, seed_ids=[0, 1, 2, 3])
    cat = (
        ivf_assign(df, "vec_id", "embedding", cents, mode="catalyst")
        .orderBy("__id")
        .toPandas()
    )
    arr = (
        ivf_assign(df, "vec_id", "embedding", cents, mode="arrow")
        .orderBy("__id")
        .toPandas()
    )
    assert cat["cluster"].tolist() == arr["cluster"].tolist()
    # forced ties: duplicate centroid 0 at index 2
    tied = cents.copy()
    tied[2] = tied[0]
    cat_t = (
        ivf_assign(df, "vec_id", "embedding", tied, mode="catalyst")
        .orderBy("__id")
        .toPandas()
    )
    arr_t = (
        ivf_assign(df, "vec_id", "embedding", tied, mode="arrow")
        .orderBy("__id")
        .toPandas()
    )
    assert cat_t["cluster"].tolist() == arr_t["cluster"].tolist()
    assert 2 not in cat_t["cluster"].tolist()  # ties keep the LOWER index
    # semantic_dedup end-to-end parity across assignment modes
    from rustiflow_spark.operators.dedup import semantic_dedup

    a = semantic_dedup(
        df, "vec_id", "embedding", cents, assign_mode="catalyst"
    ).orderBy("vec_id").toPandas().fillna(-1)
    b = semantic_dedup(
        df, "vec_id", "embedding", cents, assign_mode="arrow"
    ).orderBy("vec_id").toPandas().fillna(-1)
    assert a.values.tolist() == b.values.tolist()


def test_ann_lsh_modes_identical(spark):
    """ann_topk_lsh mode='arrow' (vectorized-across-rows, sequential-
    over-dims plane dots) must reproduce mode='catalyst' (HOF fold)
    bit-for-bit: same buckets -> same candidates -> same cosines."""
    from rustiflow_spark.operators.similarity import ann_topk_lsh

    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "vec_id": range(200),
            "embedding": [rng.randn(16).tolist() for _ in range(200)],
        }
    )
    df = spark.createDataFrame(pdf)
    q = df.where("vec_id < 4")
    cat = (
        ann_topk_lsh(df, q, k=5, n_planes=4, n_tables=3, mode="catalyst")
        .orderBy("query_id", "rank")
        .toPandas()
    )
    arr = (
        ann_topk_lsh(df, q, k=5, n_planes=4, n_tables=3, mode="arrow")
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert cat.values.tolist() == arr.values.tolist()


def test_repetition_stats_modes_identical(spark):
    """mode='arrow' (Counter pass) must reproduce mode='catalyst'
    (sorted-run folds) bit-for-bit, including trim/split edge cases and
    NULL text."""
    from rustiflow_spark.operators.textstats import repetition_stats

    rng = np.random.RandomState(17)
    vocab = [f"w{i}" for i in range(9)]
    texts = [
        " ".join(vocab[j] for j in rng.randint(0, 9, rng.randint(0, 30)))
        for _ in range(60)
    ]
    texts += ["", "   ", None, "solo", "a a a a", "\tx y\t", "  pad  ded  "]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    a = (
        repetition_stats(df, "doc_id", "text", mode="arrow")
        .orderBy("doc_id")
        .toPandas()
    )
    c = (
        repetition_stats(df, "doc_id", "text", mode="catalyst")
        .orderBy("doc_id")
        .toPandas()
    )
    assert a.values.tolist() == c.values.tolist()


def test_dsir_arrow_fit_equals_explode_fit(spark):
    """_bucket_count_map's md5 Arrow fit (per-batch np.bincount over
    Python-split grams) must produce the exact counts of the explode
    fit — including trim edge cases (SQL trim strips only spaces, so
    leading tabs/control chars stay inside words; multi-space runs,
    NULL/empty text)."""
    from pyspark.sql import functions as F

    from rustiflow_spark.operators.dsir import (
        _bucket_count_map,
        _gram_buckets,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "  a   b  c ",
                "\t\nx y\x01 z\t",
                None,
                "",
                " nbsp stays word",
                "solo",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    arrow = _bucket_count_map(df, "doc_id", "text", 64, "md5")
    g = _gram_buckets(df, "doc_id", "text", 64, "md5")
    explode = {
        int(r["__b"]): int(r["n"])
        for r in g.groupBy("__b").agg(F.count("*").alias("n")).collect()
    }
    assert arrow == explode


def test_dsir_upweights_target_like_documents(spark):
    from rustiflow_spark.operators.dsir import dsir_select, dsir_weights

    rng = np.random.RandomState(13)
    tech = [f"tech{i}" for i in range(30)]
    chat = [f"chat{i}" for i in range(30)]
    rows = []
    for i in range(60):
        pool = tech if i < 30 else chat
        words = [pool[j] for j in rng.randint(0, 30, 40)]
        rows.append((i, " ".join(words)))
    rows.append((98, ""))          # empty doc: 0 feats, score 0
    rows.append((99, "   "))       # whitespace only
    raw = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    target = raw.where("doc_id < 10")  # tech-flavored target
    for arith in ("fixed", "log"):
        w = dsir_weights(
            raw, target, "doc_id", "text",
            n_buckets=512, hash_fn="xxhash64", arithmetic=arith,
        ).toPandas().set_index("doc_id")
        tech_scores = w.loc[range(30), "dsir_score"]
        chat_scores = w.loc[range(30, 60), "dsir_score"]
        # per-position normalization isn't applied, so compare per-feat
        tech_rate = (tech_scores / w.loc[range(30), "n_feats"]).mean()
        chat_rate = (chat_scores / w.loc[range(30, 60), "n_feats"]).mean()
        assert tech_rate > chat_rate, arith
        assert w.loc[98, "n_feats"] == 0 and w.loc[98, "dsir_score"] == 0
        assert w.loc[99, "n_feats"] == 0
    top = dsir_select(
        raw, target, "doc_id", "text", k=10,
        n_buckets=512, hash_fn="xxhash64", arithmetic="fixed",
    ).toPandas()
    assert set(top["doc_id"]) <= set(range(30)), "top-k is tech-flavored"


def test_semantic_dedup_pair_modes_identical(spark):
    """The per-cluster Gram-matrix (arrow) pairing must produce verdicts
    bit-identical to the Catalyst self-join — including EXACT threshold
    equality, which the float prefilter must route through the big-int
    path: qe=[1,1,0,0] vs [0,1,1,0] has cos^2 == 1/4 exactly, so tau=1/2
    passes by the >= on equality."""
    from rustiflow_spark.operators.dedup import semantic_dedup

    rng = np.random.RandomState(17)
    rows = [(i, rng.randn(4).tolist()) for i in range(40)]
    # boundary pair: quantizes to [1024,1024,0,0] / [0,1024,1024,0]
    rows.append((200, [1.0, 1.0, 0.0, 0.0]))
    rows.append((201, [0.0, 1.0, 1.0, 0.0]))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    # a single cluster: every pair is a candidate
    cents = np.zeros((1, 4), dtype=np.int64)
    for tau in [(1, 2), (4, 5)]:
        a = semantic_dedup(
            df, "vec_id", "embedding", cents, *tau, pair_mode="catalyst"
        ).orderBy("vec_id").toPandas().fillna(-1)
        b = semantic_dedup(
            df, "vec_id", "embedding", cents, *tau, pair_mode="arrow"
        ).orderBy("vec_id").toPandas().fillna(-1)
        assert a.values.tolist() == b.values.tolist(), tau
    eq = semantic_dedup(
        df.where("vec_id >= 200"), "vec_id", "embedding", cents, 1, 2,
        pair_mode="arrow",
    ).toPandas().set_index("vec_id")
    assert bool(eq.loc[201, "is_dup"]) and eq.loc[201, "dup_of"] == 200


def test_ivf_fit_assign_modes_identical(spark):
    from rustiflow_spark.operators.similarity import ivf_fit

    rng = np.random.RandomState(23)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(96, dtype="int64"),
            "embedding": [rng.randn(8).tolist() for _ in range(96)],
        }
    )
    df = spark.createDataFrame(pdf)
    c1 = ivf_fit(df, n_lists=4, iters=2, seed_ids=[0, 1, 2, 3])
    c2 = ivf_fit(
        df, n_lists=4, iters=2, seed_ids=[0, 1, 2, 3], assign_mode="arrow"
    )
    assert (c1 == c2).all()


def test_remove_duplicate_token_spans_keeps_first_occurrence(spark):
    from rustiflow_spark.operators.dedup import remove_duplicate_token_spans

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "tokens": [
                [1, 2, 3, 9, 9],   # canonical home of gram (1,2,3)
                [7, 1, 2, 3, 8],   # non-canonical copy -> drop pos 2..4
                [5, 6],            # shorter than the window: untouched
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        remove_duplicate_token_spans(df, "doc_id", "tokens", window=3, min_count=2)
        .orderBy("doc_id")
        .toPandas()
    )
    assert [list(t) for t in out["tokens"]] == [[1, 2, 3, 9, 9], [7, 8], [5, 6]]
    assert out["n_removed"].tolist() == [0, 3, 0]
    assert out["n_tok"].tolist() == [5, 5, 2]
    # a doc that is ONE big duplicated window of an earlier doc empties out
    pdf2 = pd.DataFrame(
        {"doc_id": [10, 11], "tokens": [[4, 4, 4], [4, 4, 4]]}
    )
    out2 = (
        remove_duplicate_token_spans(
            spark.createDataFrame(pdf2), "doc_id", "tokens", window=3, min_count=2
        )
        .orderBy("doc_id")
        .toPandas()
    )
    assert [list(t) for t in out2["tokens"]] == [[4, 4, 4], []]
    assert out2["n_removed"].tolist() == [0, 3]
    # hash and string keying agree
    alt = remove_duplicate_token_spans(
        df, "doc_id", "tokens", window=3, min_count=2, use_hash=False
    ).orderBy("doc_id").toPandas()
    assert [list(t) for t in alt["tokens"]] == [list(t) for t in out["tokens"]]


def test_pq_fit_encode_adc(spark):
    from rustiflow_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    rng = np.random.RandomState(31)
    centers = rng.randn(4, 16) * 4
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(15):
            rows.append((vid, (centers[c] + rng.randn(16) * 0.3).tolist()))
            vid += 1
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    books = pq_fit(df, m=4, k_codes=8, iters=2, seed_ids=[0, 8, 16, 24, 32, 40, 48, 56])
    assert books.shape == (4, 8, 4)
    # encode modes bit-identical (argmin tie-break included)
    cat = pq_encode(df, books, mode="catalyst").orderBy("__id").toPandas()
    arr = pq_encode(df, books, mode="arrow").orderBy("__id").toPandas()
    assert [list(c) for c in cat["codes"]] == [list(c) for c in arr["codes"]]
    # ADC ranking: on separated clusters the nearest neighbors by ADC
    # should come from the query's own cluster most of the time
    queries = df.filter(F.col("vec_id").isin([0, 16, 31, 46]))
    adc = pq_adc_topk(df, queries, books, k=5).toPandas()
    assert len(adc) == 4 * 5
    exact = brute_force_topk(df, queries, k=5).toPandas()
    recall = 0.0
    for q in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == q]["neighbor_id"])
        a = set(adc[adc["query_id"] == q]["neighbor_id"])
        recall += len(e & a) / len(e)
    recall /= exact["query_id"].nunique()
    assert recall >= 0.5, f"PQ-ADC recall too low on separated clusters: {recall}"
    # pre-encoded reuse path returns the same ranking
    codes = pq_encode(df, books, mode="arrow")
    adc2 = pq_adc_topk(df, queries, books, k=5, codes=codes).toPandas()
    a1 = adc.sort_values(["query_id", "rank"]).reset_index(drop=True)
    a2 = adc2.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a1.values.tolist() == a2.values.tolist()


def test_ivf_pq_full_probe_equals_full_scan(spark):
    """IVF-PQ with nprobe == n_lists must reproduce the full ADC scan
    exactly (same candidates, same integer distances, same ranking);
    with nprobe=1 on separated clusters it still finds the same top-1."""
    from rustiflow_spark.operators.similarity import (
        ivf_fit,
        pq_adc_topk,
        pq_fit,
    )

    rng = np.random.RandomState(37)
    centers = rng.randn(4, 16) * 4
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(15):
            rows.append((vid, (centers[c] + rng.randn(16) * 0.3).tolist()))
            vid += 1
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    books = pq_fit(df, m=4, k_codes=8, iters=2, seed_ids=[0, 8, 16, 24, 32, 40, 48, 56])
    ivf_c = ivf_fit(df, n_lists=4, iters=2, seed_ids=[0, 15, 30, 45])
    queries = df.filter(F.col("vec_id").isin([0, 16, 31, 46]))
    full = pq_adc_topk(df, queries, books, k=5).orderBy(
        "query_id", "rank"
    ).toPandas()
    pruned_all = pq_adc_topk(
        df, queries, books, k=5, ivf_centroids=ivf_c, nprobe=4
    ).orderBy("query_id", "rank").toPandas()
    assert full.values.tolist() == pruned_all.values.tolist()
    pruned_1 = pq_adc_topk(
        df, queries, books, k=5, ivf_centroids=ivf_c, nprobe=1
    ).orderBy("query_id", "rank").toPandas()
    for q in full["query_id"].unique():
        t1_full = full[(full["query_id"] == q) & (full["rank"] == 1)]
        t1_pr = pruned_1[(pruned_1["query_id"] == q) & (pruned_1["rank"] == 1)]
        assert (
            t1_full["neighbor_id"].iloc[0] == t1_pr["neighbor_id"].iloc[0]
        ), f"query {q}: nprobe=1 lost the top-1 on separated clusters"


def test_semantic_dedup_oversized_cluster_rows_survive(spark):
    """The cluster-size cap bounds PAIRING only: rows of an oversized
    cluster must still appear in the output as kept — dropping them
    would silently delete documents (review finding)."""
    from rustiflow_spark.operators.dedup import semantic_dedup

    # 6 identical vectors -> one cluster of 6, over a cap of 3
    rows = [(i, [1.0, 0.0]) for i in range(6)]
    rows += [(10, [0.0, 1.0]), (11, [0.0, 1.0])]  # small cluster, a dup pair
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    cents = np.array([[1024, 0], [0, 1024]], dtype=np.int64)
    for pm in ("catalyst", "arrow"):
        out = semantic_dedup(
            df, "vec_id", "embedding", cents, 4, 5,
            max_cluster_size=3, pair_mode=pm,
        ).toPandas().set_index("vec_id")
        assert len(out) == 8, pm  # nothing deleted
        big = out.loc[range(6)]
        assert (~big["is_dup"]).all(), pm  # capped cluster: never paired
        assert bool(out.loc[11, "is_dup"]) and out.loc[11, "dup_of"] == 10


def test_dsir_stream_scorer_equals_batch_including_null_text(spark):
    """dsir_score_stream's per-row scorer must be bit-identical to batch
    dsir_weights on the same fitted ratio table — including NULL text,
    which must score (0, 0) like the batch left-join coalesce (review
    finding), not NULL."""
    from rustiflow_spark.operators.dsir import (
        dsir_ratio_table,
        dsir_score_stream,
        dsir_weights,
    )

    rng = np.random.RandomState(41)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        (i, " ".join(vocab[j] for j in rng.randint(0, 50, 20)))
        for i in range(40)
    ]
    rows.append((98, None))
    rows.append((99, ""))
    raw = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    target = raw.where("doc_id < 10")
    for arith in ("fixed", "log"):
        rt = (
            dsir_ratio_table(
                raw, target, "doc_id", "text",
                n_buckets=64, hash_fn="md5", arithmetic=arith,
            )
            .orderBy("__b")
            .collect()
        )
        vals = [r["__r"] for r in rt]
        batch = dsir_weights(
            raw, target, "doc_id", "text",
            n_buckets=64, hash_fn="md5", arithmetic=arith,
        ).orderBy("doc_id").toPandas()
        # the "stream" scorer is a pure projection: apply it to the
        # batch frame — identical rows are exactly the stream guarantee
        streamed = dsir_score_stream(
            raw, vals, "doc_id", "text", hash_fn="md5", arithmetic=arith
        ).orderBy("doc_id").toPandas()
        assert batch.values.tolist() == streamed.values.tolist(), arith
        assert streamed.set_index("doc_id").loc[98, "dsir_score"] == 0
