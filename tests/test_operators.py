"""Behavioral tests for the LLM-pipeline operators: approximate paths are
checked against their exact baselines (recall/subset properties), dedup against
synthesized duplicates — properties the SQL-oracle harness can't express."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fsql_spark.operators import (
    brute_force_topk,
    dedup_exact,
    dedup_exact_keys,
    extract_features,
    fake_decode_image,
    jaccard_pairs,
    lsh_ann_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    with_text_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    # synthesize exact + near duplicates with known ids
    exact = docs.limit(10).select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    near = docs.limit(10).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqx")).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.unionByName(exact).unionByName(near)


def test_dedup_exact_removes_synthesized_dups(docs_with_dups):
    out = dedup_exact(docs_with_dups, ["text"], "doc_id")
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert len(kept) == 60  # 50 originals + 10 near (not exact) dups
    assert all(k < 100000 or k >= 200000 for k in kept)  # min-key kept per group
    keys_only = dedup_exact_keys(docs_with_dups, ["text"], "doc_id")
    assert {r["doc_id"] for r in keys_only.collect()} == kept


def test_minhash_lsh_is_verified_subset_of_exact(spark, docs_with_dups):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs_with_dups, "doc_id", "text", 0.9, ngram=3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs_with_dups, "doc_id", "text", 0.9, ngram=3).collect()
    }
    assert lsh <= exact  # exact-verified: no false positives
    assert len(exact) >= 10  # the 10 synthesized near-dup pairs are present
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_simhash_finds_near_dups(docs_with_dups):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs_with_dups, "doc_id", "text", 7).collect()
    }
    # one extra token on 10-99-token docs moves a few bits of a 64-bit
    # simhash; radius 7 should recover nearly all synthesized near-dups
    near_found = sum(1 for a, b in pairs if a < 100000 and b == a + 200000)
    assert near_found >= 8, f"only {near_found}/10 near-dups found"
    # identical texts collapse to identical signatures (distance 0)
    exact_found = sum(1 for a, b in pairs if a < 100000 and b == a + 100000)
    assert exact_found == 10


def test_lsh_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    from fsql_spark.operators.similarity import brute_force_pairs

    exact = {
        tuple(sorted((r["query_id"], r["neighbor_id"])))
        for r in brute_force_pairs(emb, emb, "vec_id", "embedding", 0.30).collect()
    }
    # these synthetic embeddings are near-isotropic noise (max pairwise cosine
    # ~0.5), so a 0.30 "neighbor" sits at ~72 degrees — the hard regime for
    # hyperplane LSH. Short signatures + many tables buy recall back
    # (p_bucket = 1-(1-p_bit^planes)^tables ~ 0.89 here).
    approx = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_ann_pairs(emb, "vec_id", "embedding", 0.30, n_planes=4, n_tables=16).collect()
    }
    assert approx <= exact  # refined with exact cosine: no false positives
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.6, f"ANN recall too low: {recall} ({len(approx)}/{len(exact)})"


def test_brute_force_topk_shape(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 3)
    out = brute_force_topk(emb, qs, "vec_id", "embedding", k=5).toPandas()
    assert len(out) == 15
    assert set(out["rank"]) == {1, 2, 3, 4, 5}
    assert (out["query_id"] != out["neighbor_id"]).all()


def test_text_stats_columns(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    out = with_text_stats(docs).toPandas()
    assert {"n_tokens", "n_pieces", "avg_token_len", "lang_pred", "quality", "fingerprint", "rolling_fp"} <= set(out.columns)
    assert (out["quality"].between(0, 1)).all()
    assert out["fingerprint"].str.len().eq(32).all()
    assert out["rolling_fp"].nunique() == len(out)  # distinct texts, distinct fps


def test_multimodal_plumbing(spark):
    from fsql_spark.operators.multimodal import documents_as_media

    media = documents_as_media(spark, SF).limit(8)
    feats = extract_features(media).toPandas()
    raw = media.select("media_id", "content").toPandas()
    assert len(feats) == 8
    joined = feats.merge(raw, on="media_id")
    assert (joined["n_bytes"] == joined["content"].map(len)).all()
    meta = fake_decode_image(bytes(joined["content"].iloc[0]))
    assert meta["n_bytes"] == joined["n_bytes"].iloc[0]


def test_decode_image_unknown_format_needs_external_codec():
    from fsql_spark.operators.codecs import CodecError
    from fsql_spark.operators.multimodal import decode_image

    # JPEG magic now dispatches to the NATIVE decoder: a corrupt payload is
    # a codec error, not a missing-dependency error
    with pytest.raises(CodecError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed: foreign formats decode via fallback")
    except ImportError:
        pass
    # WebP: genuinely foreign, Pillow absent -> loud NotImplementedError
    with pytest.raises(NotImplementedError, match="needs Pillow"):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_ivf_ann_recall_vs_brute_force(spark):
    from fsql_spark.operators.similarity import brute_force_topk, ivf_ann_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qs, "vec_id", "embedding", k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(emb, qs, "vec_id", "embedding", k=10, n_probe=6).collect()
    }
    assert len(approx) == len(exact) == 100
    recall = len(approx & exact) / len(exact)
    # near-isotropic noise embeddings: true neighbors are barely closer than
    # random, the worst case for coarse quantization - still expect majority
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_ann_registered_entry_recall_floor(spark):
    """The driver-registered approximate entry (sampled centroids, 4/16
    probe) must keep a useful recall@10 vs brute force — the trade it
    demonstrates is 1/4 of the corpus scored per query for ~half the exact
    neighbors on these worst-case (near-isotropic) embeddings."""
    from fsql_spark.operators.similarity import brute_force_topk, q_embedding_ivf_ann
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qs, "vec_id", "embedding", k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in q_embedding_ivf_ann(spark, SF).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.35, f"registered IVF-ANN entry recall too low: {recall}"


def test_ivf_centroid_partial_sums_match_explode_formulation(spark):
    """The map-only partial-sum centroid update must compute the same Lloyd
    means as the shuffle-heavy posexplode/regroup formulation it replaced
    (allclose: float summation order differs by construction)."""
    import numpy as np
    from pyspark.sql import functions as F
    from fsql_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned, centroids = ivf_assign(emb, "vec_id", "embedding", n_centroids=8, iterations=1)
    # recompute iteration-1 means the old way, from the SAME assignment the
    # new path would have produced after init (iterations=0 assignment)
    assigned0, init = ivf_assign(emb, "vec_id", "embedding", n_centroids=8, iterations=0)
    pos = assigned0.select("centroid_id", F.posexplode("v").alias("i", "x"))
    means = pos.groupBy("centroid_id", "i").agg(F.avg("x").alias("cx")).collect()
    expect = init.copy()
    for r in means:
        expect[r["centroid_id"], r["i"]] = r["cx"]
    np.testing.assert_allclose(centroids, expect, rtol=1e-9, atol=1e-12)


def test_jaccard_guard_fails_fast_on_candidate_explosion(spark):
    """A frequent-shingle corpus must raise the guard error instead of
    OOM-killing the JVM (PERF.md documents the unguarded ~500M-row join)."""
    from fsql_spark.operators.dedup import CandidateExplosionError

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(CandidateExplosionError, match="minhash_lsh_pairs"):
        jaccard_pairs(docs, "doc_id", "text", 0.95, ngram=1, max_candidate_pairs=10_000)


def test_jaccard_shingle_df_cap_keeps_exact_verification(spark, docs_with_dups):
    """max_shingle_df prunes candidate GENERATION only; emitted pairs and
    jaccard values stay exactly verified (subset of the uncapped result)."""
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs_with_dups, "doc_id", "text", 0.9, ngram=3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(
            docs_with_dups, "doc_id", "text", 0.9, ngram=3, max_shingle_df=30
        ).collect()
    }
    assert set(capped) <= set(full)
    assert all(capped[k] == full[k] for k in capped)  # values from FULL sets
    # 3-gram shingles on this corpus are rare, so nothing should be lost here
    assert len(capped) == len(full)


def test_embedding_near_dup_default_is_lsh_and_recalls_exact(spark):
    """Default wiring must NOT collect the corpus to the driver; its kept set
    is a superset of the exact kept set (LSH can only miss pairs => drop
    fewer) with high recall of the exact drops."""
    from fsql_spark.operators.similarity import (
        brute_force_self_pairs,
        embedding_near_dup_keys,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact_kept = {
        r["vec_id"]
        for r in embedding_near_dup_keys(
            emb, "vec_id", "embedding", 0.30, pairs_fn=brute_force_self_pairs
        ).collect()
    }
    lsh_kept = {
        r["vec_id"]
        for r in embedding_near_dup_keys(
            emb,
            "vec_id",
            "embedding",
            0.30,
            pairs_fn=lambda v, k, c, t: lsh_ann_pairs(v, k, c, t, n_planes=4, n_tables=16),
        ).collect()
    }
    assert exact_kept <= lsh_kept  # LSH misses only ADD keeps, never drops extra
    n_all = emb.count()
    exact_dropped = n_all - len(exact_kept)
    lsh_dropped = n_all - len(lsh_kept)
    if exact_dropped:
        recall = lsh_dropped / exact_dropped
        assert recall >= 0.6, f"near-dup drop recall too low: {recall}"


def test_approx_ops_emit_exact_scores(spark):
    """The rows-only (no-SQL-oracle) ops carry their exactly-verified score in
    the output; recompute each returned pair's cosine and compare — the
    value-level audit the driver's rows-only check can't do."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = lsh_ann_pairs(emb, "vec_id", "embedding", 0.30, n_planes=4, n_tables=8).toPandas()
    assert list(pairs.columns) == ["vec_a", "vec_b", "cos"]
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for _, row in pairs.iterrows():
        a, b = vecs[row["vec_a"]], vecs[row["vec_b"]]
        expect = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(row["cos"] - round(expect, 4)) <= 1e-4
        assert row["cos"] >= 0.30 - 1e-4


def test_hash_fraction_sample_is_deterministic_and_map_only(spark):
    from fsql_spark.operators import hash_fraction_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r["doc_id"] for r in hash_fraction_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    b = {r["doc_id"] for r in hash_fraction_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    assert a == b  # content-hash decision: stable across runs/partitionings
    n = docs.count()
    assert 0.15 * n < len(a) < 0.45 * n  # ~fraction
    # nested fractions nest: sample(0.1) is a subset of sample(0.3)
    c = {r["doc_id"] for r in hash_fraction_sample(docs, "doc_id", 0.1).select("doc_id").collect()}
    assert c <= a
    # the 100 TB contract: the sampler itself never shuffles
    plan = hash_fraction_sample(docs, "doc_id", 0.3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_replicate_by_weight_mixture_semantics(spark):
    """Real-weight domain replication: floor(w) full epochs per row, one
    hash-chosen fractional epoch, unlisted strata dropped, deterministic,
    map-only (no shuffle), and the fractional pick equals the sampler's
    hash decision (same convention)."""
    from fsql_spark.operators.sampling import hash_fraction_sample, replicate_by_weight

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    weights = {"src0": 2.5, "src1": 1.0, "src2": 0.25}
    rep = replicate_by_weight(docs, "doc_id", "source", weights)
    rows = rep.select("doc_id", "source", "epoch").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault((r["doc_id"], r["source"]), []).append(r["epoch"])
    src_of = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    # every src0 doc has epochs {0,1} (+{2} for the hash-chosen half)
    for (d, s), eps in by_doc.items():
        eps = sorted(eps)
        if s == "src0":
            assert eps in ([0, 1], [0, 1, 2])
        elif s == "src1":
            assert eps == [0]
        elif s == "src2":
            assert eps == [0]
    # unlisted strata: none beyond the three in weights leak through
    assert {s for (_, s) in by_doc} <= set(weights)
    # fractional picks == the plain sampler's decision at the same fraction
    half = {r["doc_id"] for r in hash_fraction_sample(
        docs.where(F.col("source") == "src0"), "doc_id", 0.5).select("doc_id").collect()}
    third_epoch = {d for (d, s), eps in by_doc.items() if s == "src0" and 2 in eps}
    assert third_epoch == half
    quarter = {r["doc_id"] for r in hash_fraction_sample(
        docs.where(F.col("source") == "src2"), "doc_id", 0.25).select("doc_id").collect()}
    kept_src2 = {d for (d, s) in by_doc if s == "src2"}
    assert kept_src2 == quarter
    # map-only: no Exchange in the plan
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # degenerate weights
    with pytest.raises(ValueError, match=">= 0"):
        replicate_by_weight(docs, "doc_id", "source", {"src0": -1})
    assert replicate_by_weight(docs, "doc_id", "source", {"src0": 0.0}).count() == 0


def test_sample_per_group_exact_counts(spark):
    from fsql_spark.operators import sample_per_group

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sample_per_group(docs, ["lang"], "doc_id", k=7).toPandas()
    sizes = out.groupby("lang").size()
    full_sizes = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    for lang, got in sizes.items():
        assert got == min(7, int(full_sizes[lang]))
    # deterministic
    again = sample_per_group(docs, ["lang"], "doc_id", k=7).toPandas()
    assert set(out["doc_id"]) == set(again["doc_id"])


def test_ivf_is_deterministic(spark):
    from fsql_spark.operators.similarity import ivf_ann_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 3)
    a = sorted(map(tuple, ivf_ann_topk(emb, qs, "vec_id", "embedding", k=5).collect()))
    b = sorted(map(tuple, ivf_ann_topk(emb, qs, "vec_id", "embedding", k=5).collect()))
    assert a == b


def test_split_by_hash_partitions_rows(spark):
    from fsql_spark.operators import split_by_hash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    labeled = split_by_hash(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    # exhaustive + exclusive: every row gets exactly one label
    assert labeled.count() == docs.count()
    counts = {r["split"]: r["count"] for r in labeled.groupBy("split").count().collect()}
    assert set(counts) <= {"train", "val", "test"} and counts["train"] > counts.get("val", 0)
    # deterministic across invocations
    a = {(r.doc_id, r.split) for r in labeled.select("doc_id", "split").collect()}
    b = {
        (r.doc_id, r.split)
        for r in split_by_hash(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .select("doc_id", "split")
        .collect()
    }
    assert a == b
    # map-only: the assignment itself must not shuffle
    plan = labeled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        split_by_hash(docs, "doc_id", {"train": 0.8, "val": 0.1})


def test_pack_shards_fills_contiguously(spark):
    from fsql_spark.operators import pack_shards

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    packed = pack_shards(docs, "doc_id", "n_chars", budget=5000, partition_cols=["lang"])
    pdf = packed.select("lang", "shard_id", "n_chars").toPandas()
    max_cost = pdf["n_chars"].max()
    for lang, grp in pdf.groupby("lang"):
        sizes = grp.groupby("shard_id")["n_chars"].sum().sort_index()
        # shard ids contiguous from 0
        assert list(sizes.index) == list(range(len(sizes)))
        # greedy invariant: a shard closes only when the running sum crosses
        # its boundary, so no shard (bar the last) is under budget by more
        # than one row's cost (the straddling row charges the earlier shard)
        assert (sizes.iloc[:-1] >= 5000 - max_cost).all()
        assert (sizes.iloc[:-1] <= 5000 + max_cost).all()


def test_normalize_and_redact_examples(spark):
    from fsql_spark.operators import normalize_text, redact

    df = spark.createDataFrame(
        [
            ("  A  B\tC  ", "write bob.smith+x@corp.example.org now"),
            ("already clean", "ids 123 then 4567 code and tel 555 123 4567."),
        ],
        "a string, b string",
    )
    got = df.select(
        normalize_text("a").alias("na"), redact("b").alias("rb")
    ).collect()
    assert got[0].na == "a b c"
    assert got[0].rb == "write <EMAIL> now"
    assert got[1].na == "already clean"
    # 123 is too short to mask; 4567 is a digit run; the space-separated
    # phone masks wholesale (its pattern spans digit groups)
    assert got[1].rb == "ids 123 then <NUM> code and tel <PHONE>."


def test_contamination_flags_benchmark_copies(spark):
    from fsql_spark.operators import contamination_check

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where(F.col("doc_id") < 5).select("doc_id", "text")
    # corpus: clean synthetic rows + one verbatim copy of a benchmark doc
    copy = bench.limit(1).select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    clean = spark.createDataFrame(
        [(600000 + i, f"zz{i} yy{i} xx{i} ww{i} vv{i} uu{i}") for i in range(5)],
        "doc_id long, text string",
    )
    corpus = copy.unionByName(clean)
    hits = contamination_check(corpus, bench, "doc_id", "text", "text", ngram=4)
    flagged = {r.doc_id for r in hits.collect()}
    assert flagged == {copy.collect()[0].doc_id}
    # scale contract: the benchmark side broadcasts (no corpus-side shuffle
    # before the join)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_score_orders_degenerate_docs(spark):
    from fsql_spark.operators import repetition_score

    df = spark.createDataFrame(
        [("loop", "a b a b a b a b"), ("fresh", "a b c d e f g h"), ("one", "a")],
        "k string, text string",
    )
    got = {r.k: (r.r1, r.r2) for r in df.select(
        "k",
        repetition_score("text", 1).alias("r1"),
        repetition_score("text", 2).alias("r2"),
    ).collect()}
    assert got["fresh"] == (0.0, 0.0)
    assert got["loop"][0] > 0.7 and got["loop"][1] > 0.7  # 2 distinct of 8 / 2 of 7
    assert got["one"] == (0.0, 0.0)  # single token: defined, not div-by-zero


def test_minhash_emitted_jaccard_values_are_exact(spark, docs_with_dups):
    """The rows-only minhash entry carries an exactly-verified jaccard per
    pair — audit the VALUES against the exact all-pairs computation (the
    conditional oracle the driver's rows-only check can't do)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(docs_with_dups, "doc_id", "text", 0.9, ngram=3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs_with_dups, "doc_id", "text", 0.9, ngram=3).collect()
    }
    assert lsh  # non-vacuous
    for pair, j in lsh.items():
        assert j == exact[pair], f"{pair}: emitted {j} != exact {exact[pair]}"


def test_precomputed_sigs_width_mismatch_fails_loudly(spark, docs_with_dups):
    """A signature table built with a different num_hashes must raise, not
    degenerate: banding past the array end yields NULL buckets -> one
    bucket holding every doc (an accidental cross product)."""
    import pytest as _pytest

    from fsql_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    sigs32 = minhash_signatures(docs_with_dups, "doc_id", "text", 32, 3)
    with _pytest.raises(ValueError, match="32-wide"):
        minhash_lsh_pairs(
            None, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, ngram=3,
            sigs=sigs32,
        )


def test_corpus_properties_backing_sql_oracles(spark):
    """The FNV-replica SQL oracles (text-embed-knn, simhash) fold over CODE
    POINTS, which equals the kernel's UTF-8-byte fold only for ASCII; and
    empty/null texts are excluded on the SQL side while the kernel emits
    zero vectors. Pin both as DATA properties so a testdata regeneration
    that breaks either assumption fails loudly here — a data issue — not as
    an inexplicable driver oracle mismatch."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("text").isNull() | (F.col("text") == ""), 1)).alias("empties"),
        F.count(F.when(F.col("text").rlike(r"^[\x20-\x7e]*$"), 1)).alias("ascii"),
    ).first()
    assert stats["empties"] == 0, "empty/null texts break the FNV oracle's exclusion symmetry"
    assert stats["ascii"] == stats["n"], (
        "non-ASCII text: the SQL twins' unicode() fold no longer equals the "
        "kernel's UTF-8-byte fold — regenerate data or extend the oracle"
    )


def test_minhash_banding_margin_holds(spark):
    """The minhash entries' exact-Jaccard oracles assert recall 1, which the
    16x4 banding makes near-certain only WITH MARGIN: a qualifying pair
    sitting exactly at the 0.8 threshold is missed with p ~ 2e-4, vanishing
    (< 1e-6) for J >= 0.85. Pin the margin as a DATA property so a future
    testdata regeneration with near-threshold pairs fails loudly here — a
    data issue — instead of as an inexplicable driver oracle mismatch."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = jaccard_pairs(docs, "doc_id", "text", threshold=0.8, ngram=3).collect()
    assert pairs, "margin check is vacuous: no qualifying pairs in testdata"
    min_j = min(r["jaccard"] for r in pairs)
    assert min_j >= 0.85, (
        f"banding margin eroded: a qualifying pair sits at J={min_j} < 0.85; "
        "raise num_hashes/rows-per-band for the minhash entries or regenerate data"
    )


def test_hashed_embedding_properties(spark):
    from fsql_spark.operators import hashed_embedding

    import numpy as np

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30).select("doc_id", "text")
    emb = hashed_embedding(docs, "text").toPandas()
    vecs = np.stack(emb["embedding"].to_numpy())
    # unit-norm, correct dims
    assert vecs.shape[1] == 64
    np.testing.assert_allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    # deterministic across invocations
    again = hashed_embedding(docs, "text").toPandas()
    np.testing.assert_array_equal(vecs, np.stack(again["embedding"].to_numpy()))
    # a near-duplicate text embeds closer than an unrelated one
    pdf = docs.toPandas()
    import pandas as pd

    probe = pd.DataFrame({
        "doc_id": [900001, 900002],
        "text": [pdf["text"].iloc[0] + " zzqx", "qq ww ee rr tt yy uu ii"],
    })
    both = hashed_embedding(
        spark.createDataFrame(pd.concat([pdf.iloc[[0]], probe])), "text"
    ).toPandas().set_index("doc_id")
    base = np.array(both["embedding"].loc[pdf["doc_id"].iloc[0]])
    near = np.array(both["embedding"].loc[900001])
    far = np.array(both["embedding"].loc[900002])
    assert base @ near > 0.9 > base @ far


def test_text_embed_knn_matches_numpy(spark):
    """The embed-knn entry's neighbor ordering must equal a numpy
    recomputation of the same hashed embeddings (now ALSO driver-checked by
    the full FNV-replica SQL oracle; this audits the kernel independently)."""
    from fsql_spark.operators import hashed_embedding
    from fsql_spark.operators.inference import q_text_embed_knn

    import numpy as np

    got = q_text_embed_knn(spark, SF).toPandas()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    emb = hashed_embedding(docs, "text").toPandas()
    ids = emb["doc_id"].to_numpy()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    for qid in [i for i in ids if i < 10]:
        qv = vecs[ids == qid][0]
        cos = vecs @ qv
        cos[ids == qid] = -np.inf  # exclude self, like brute_force_topk
        order = ids[np.argsort(-cos, kind="stable")]
        expect = list(order[:3])
        mine = list(
            got[got["query_id"] == qid].sort_values("rank")["neighbor_id"]
        )
        # ties at equal cosine make exact order ambiguous, and the entry
        # ranks by the 4dp-ROUNDED cosine (cross-engine-stable total order)
        # — so compare at the entry's own 4dp resolution
        qcos = {i: c for i, c in zip(ids, cos)}
        assert [round(qcos[i], 4) for i in mine] == [round(qcos[i], 4) for i in expect]
        # pin the oracle's sparsity assumption: the SQL twin's bucket join
        # drops zero-shared-bucket pairs (cos exactly 0), which is sound
        # only while every query's top-3 is STRICTLY positive
        assert min(qcos[i] for i in expect) > 0, (
            f"query {qid}: top-3 contains a non-positive cosine — the "
            "sparse-join SQL oracle no longer covers this data"
        )


def test_score_with_model_matches_direct_predict(spark):
    from fsql_spark.operators import fake_quality_model, score_with_model

    import numpy as np

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    out = score_with_model(docs, "text").select("doc_id", "model_score").toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    direct = fake_quality_model()(pdf["text"])
    merged = out.set_index("doc_id")["model_score"].loc[pdf["doc_id"]].to_numpy()
    np.testing.assert_array_equal(merged, direct.to_numpy())
    assert ((out["model_score"] >= 0) & (out["model_score"] <= 1)).all()


def test_term_frequencies_match_counter(spark):
    """Map-only TF must equal a per-document Counter recomputation."""
    from collections import Counter

    from fsql_spark.operators import term_frequencies

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40).select("doc_id", "text")
    got = term_frequencies(docs, "doc_id", "text").toPandas()
    pdf = docs.toPandas()
    for _, row in pdf.iterrows():
        expect = Counter(t for t in (row["text"] or "").split(" ") if t)
        mine = got[got["doc_id"] == row["doc_id"]].set_index("token")["tf"].to_dict()
        assert mine == dict(expect), f"doc {row['doc_id']}"
    # map-only: no Exchange in the physical plan (full read — the test's own
    # .limit() would add a SinglePartition exchange unrelated to the operator)
    full = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = term_frequencies(full, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_tf_idf_matches_numpy(spark):
    from collections import Counter

    import numpy as np

    from fsql_spark.operators import tf_idf

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60).select("doc_id", "text")
    got = tf_idf(docs, "doc_id", "text").toPandas()
    pdf = docs.toPandas()
    n = len(pdf)
    tok_lists = {r["doc_id"]: [t for t in (r["text"] or "").split(" ") if t] for _, r in pdf.iterrows()}
    df_counts = Counter()
    for toks in tok_lists.values():
        df_counts.update(set(toks))
    for _, r in got.iterrows():
        tf = Counter(tok_lists[r["doc_id"]])[r["token"]]
        dfreq = df_counts[r["token"]]
        assert r["tf"] == tf and r["doc_freq"] == dfreq
        expect = tf * (np.log((1.0 + n) / (1.0 + dfreq)) + 1.0)
        assert abs(r["tfidf"] - expect) < 1e-9
    # every (doc, token) pair is present
    assert len(got) == sum(len(set(t)) for t in tok_lists.values())


def test_vocabulary_min_df_cut(spark):
    from fsql_spark.operators import vocabulary

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    full = vocabulary(docs).toPandas().set_index("token")
    cut = vocabulary(docs, min_df=50).toPandas()
    assert set(cut["token"]) == {t for t, r in full.iterrows() if r["doc_freq"] >= 50}
    assert (full["total_tf"] >= full["doc_freq"]).all()


def test_chunk_documents_invariants(spark):
    """Chunks cover every token exactly (reconstruction), overlap is exact,
    short docs yield one chunk, and the plan is shuffle-free."""
    from fsql_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    out = chunk_documents(docs, chunk_tokens=32, overlap=4)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    got = out.limit(0).toPandas()  # schema probe
    assert list(got.columns) == ["doc_id", "chunk_idx", "start_token", "n_tokens", "chunk_text"]

    pdf = docs.limit(25).toPandas()
    chunks = chunk_documents(spark.createDataFrame(pdf), chunk_tokens=32, overlap=4).toPandas()
    for _, row in pdf.iterrows():
        toks = (row["text"] or "").split(" ")
        mine = chunks[chunks["doc_id"] == row["doc_id"]].sort_values("chunk_idx")
        # reconstruction: drop the first `overlap` tokens of every non-first
        # chunk, concatenation equals the document
        rebuilt: list[str] = []
        for i, (_, c) in enumerate(mine.iterrows()):
            ctoks = c["chunk_text"].split(" ") if c["chunk_text"] else [""]
            assert c["n_tokens"] == len(ctoks)
            assert c["start_token"] == c["chunk_idx"] * 28
            rebuilt.extend(ctoks[4:] if i else ctoks)
        assert rebuilt == toks, f"doc {row['doc_id']} reconstruction"
        if len(toks) <= 32:
            assert len(mine) == 1
        # every chunk past the first adds new tokens (no redundant tail)
        assert (mine["n_tokens"].iloc[1:] > 4).all()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_dedup_against_incremental(spark):
    """Case variants of corpus docs are removed under normalize=True, novel
    truncations survive; corpus side reduces to a distinct hash set."""
    from fsql_spark.operators import dedup_against
    from fsql_spark.operators.dedup import _incremental_batch

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    batch = _incremental_batch(spark, SF)
    kept = dedup_against(batch, corpus, ["text"], normalize=True).toPandas()
    assert set(kept["doc_id"]) == set(range(200050, 200080))  # novel only
    # without normalization the upper-cased variants are NOT corpus dups
    raw_kept = dedup_against(batch, corpus, ["text"]).count()
    assert raw_kept == batch.count()


def test_paragraph_dedup_canonical_survival_and_rebuild(spark):
    """CCNet paragraph dedup semantics on a planted corpus: the canonical
    (lowest (key, idx)) copy of a duplicated paragraph survives, every
    other copy is dropped, unique paragraphs ride through untouched, and
    the rebuilt text is exactly the surviving paragraphs in order."""
    import pandas as pd

    from fsql_spark.operators.dedup import paragraph_dedup

    P = 3  # 3-word paragraphs for a readable fixture
    boiler = "all rights reserved"
    texts = {
        1: f"alpha beta gamma {boiler} delta epsilon zeta",
        2: f"{boiler} eta theta iota",
        3: f"kappa lam mu {boiler}",
        4: "nu xi omicron pi rho",  # unique; last chunk short (2 words)
        5: "",  # no words -> absent from the output
    }
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": [texts[d] for d in texts]})
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, "doc_id", "text", para_words=P).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # doc 1 holds the canonical boiler copy (lowest doc_id): nothing drops
    assert (out[1]["n_paras"], out[1]["n_dropped"]) == (3, 0)
    assert out[1]["text"] == texts[1]
    # docs 2 and 3 lose exactly their boiler paragraph
    assert (out[2]["n_paras"], out[2]["n_dropped"]) == (2, 1)
    assert out[2]["text"] == "eta theta iota"
    assert (out[3]["n_paras"], out[3]["n_dropped"]) == (2, 1)
    assert out[3]["text"] == "kappa lam mu"
    # unique doc with a short tail chunk is untouched
    assert (out[4]["n_paras"], out[4]["n_dropped"]) == (2, 0)
    assert out[4]["text"] == texts[4]

    # within-doc duplicates: first occurrence is canonical, later ones drop
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["a b c x y z a b c"]})
    )
    r = paragraph_dedup(df2, "doc_id", "text", para_words=3).collect()[0]
    assert (r["n_paras"], r["n_dropped"]) == (3, 1)
    assert r["text"] == "a b c x y z"


def test_paragraph_dedup_matches_python_on_random_corpora(spark):
    """Property sweep: paragraph_dedup equals an independent pure-Python
    model (chunk -> count -> canonical-min survival -> rejoin) on random
    corpora with forced collisions (tiny vocabulary, short paragraphs)."""
    import random

    import pandas as pd

    from fsql_spark.operators.dedup import paragraph_dedup

    rng = random.Random(29)
    vocab = ["aa", "bb", "cc"]
    for trial in range(4):
        P = rng.choice([2, 3])
        texts = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 11)))
            for d in range(1, 9)
        }

        # independent model
        chunks = []  # (doc, idx, para)
        for d in sorted(texts):
            ws = [w for w in texts[d].split(" ") if w]
            for i in range(0, len(ws), P):
                chunks.append((d, i // P, " ".join(ws[i : i + P])))
        from collections import Counter, defaultdict

        cnt = Counter(p for _, _, p in chunks)
        canon = {}
        for d, i, p in sorted(chunks):
            canon.setdefault(p, (d, i))
        want = {}
        for d in texts:
            mine = [(i, p) for dd, i, p in chunks if dd == d]
            kept = [p for i, p in mine if cnt[p] < 2 or canon[p] == (d, i)]
            if mine:
                want[d] = (len(mine), len(mine) - len(kept), " ".join(kept))

        df = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": list(texts), "text": [texts[d] for d in texts]}
            )
        )
        got = {
            r["doc_id"]: (r["n_paras"], r["n_dropped"], r["text"])
            for r in paragraph_dedup(df, "doc_id", "text", para_words=P).collect()
        }
        assert got == want, (trial, P, texts)


def test_contamination_fraction_matches_python_on_random_corpora(spark):
    """Property sweep: contamination_fraction equals an independent
    pure-Python model (distinct word n-grams per doc, benchmark set
    membership, fraction + threshold verdict) on random tiny-vocab corpora
    — including zero-hit docs (present) and sub-n-gram docs (absent)."""
    import random

    import pandas as pd

    from fsql_spark.operators.decontam import contamination_fraction

    rng = random.Random(37)
    vocab = ["aa", "bb", "cc", "dd"]
    for trial in range(4):
        n = rng.choice([2, 3])
        thr = rng.choice([0.3, 0.6])
        texts = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 7)))
            for d in range(1, 10)
        }
        bench_ids = {1, 2}

        def grams(t):
            ws = t.split(" ") if t else []
            return {tuple(ws[i : i + n]) for i in range(len(ws) - n + 1)}

        bench_set = set().union(*(grams(texts[d]) for d in bench_ids))
        want = {}
        for d, t in texts.items():
            if d in bench_ids:
                continue
            g = grams(t)
            if not g:
                continue
            hits = len(g & bench_set)
            frac = round(hits / len(g), 4)
            want[d] = (len(g), hits, frac, int(frac >= thr))

        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(texts), "text": [texts[d] for d in texts]})
        )
        got = {
            r["doc_id"]: (r["n_grams"], r["n_hits"], r["contamination"], r["drop"])
            for r in contamination_fraction(
                df.where(f"doc_id NOT IN (1, 2)"),
                df.where("doc_id IN (1, 2)"),
                "doc_id",
                "text",
                "text",
                ngram=n,
                threshold=thr,
            ).collect()
        }
        assert got == want, (trial, n, thr, texts)


def test_semantic_dedup_against_matches_numpy_on_random_vectors(spark):
    """Property sweep: semantic_dedup_against equals an independent numpy
    model (assign both sides by argmax cosine with low-id tie-break, drop
    a new row iff any kept vector in its cluster has round(cos,4) >=
    threshold) on random corpora, including planted exact clones and a
    zero-norm vector on each side."""
    import numpy as np

    import pandas as pd

    from fsql_spark.operators.similarity import semantic_dedup_against

    rng = np.random.default_rng(31)
    for trial in range(3):
        d = 8
        n_kept, n_new, n_cent = 30, 20, 4
        kept_m = rng.standard_normal((n_kept, d))
        new_m = rng.standard_normal((n_new, d))
        # plant: new row 0 clones kept row 3; zero-norms on both sides
        new_m[0] = kept_m[3]
        kept_m[5] = 0.0
        new_m[7] = 0.0
        cents = kept_m[:n_cent].copy()
        thr = float(rng.choice([0.8, 0.95]))

        def norm(m):
            return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

        def assign(m):
            return (norm(m) @ norm(cents).T).argmax(axis=1)  # argmax = lowest tie

        ka, na = assign(kept_m), assign(new_m)
        want = {}
        for j in range(n_new):
            cluster = [i for i in range(n_kept) if ka[i] == na[j]]
            dropped = False
            for i in cluster:
                denom = np.linalg.norm(kept_m[i]) * np.linalg.norm(new_m[j])
                if denom == 0:
                    continue  # NaN cosine: never dominates
                c = float(kept_m[i] @ new_m[j] / denom)
                c = np.floor(abs(c) * 1e4 + 0.5) / 1e4 * np.sign(c)
                if c >= thr:
                    dropped = True
                    break
            want[j] = (int(na[j]), 0 if dropped else 1)

        kept_df = spark.createDataFrame(
            pd.DataFrame({"vec_id": range(n_kept), "embedding": list(map(list, kept_m))})
        )
        new_df = spark.createDataFrame(
            pd.DataFrame({"vec_id": range(n_new), "embedding": list(map(list, new_m))})
        )
        got = {
            r["vec_id"]: (r["centroid_id"], r["kept"])
            for r in semantic_dedup_against(
                new_df, kept_df, "vec_id", "embedding", centroids=cents, threshold=thr
            ).collect()
        }
        assert got == want, (trial, thr)
        assert got[0][1] == 0  # the planted clone always drops


def test_dedup_against_bloom_matches_exact_and_prefilters(spark):
    """The bloom path returns the BIT-IDENTICAL kept set (no false
    negatives by construction) while the prefilter routes definitely-novel
    rows around the anti-join: only might-contain rows (true dups + ~fpp
    false positives) carry the join cost."""
    import numpy as np

    from fsql_spark.operators import bloom_build, dedup_against, dedup_against_bloom
    from fsql_spark.operators.dedup import _content_hash, _incremental_batch

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    batch = _incremental_batch(spark, SF)
    exact = sorted(
        r["doc_id"]
        for r in dedup_against(batch, corpus, ["text"], normalize=True).select("doc_id").collect()
    )
    bloomed = sorted(
        r["doc_id"]
        for r in dedup_against_bloom(batch, corpus, ["text"], normalize=True)
        .select("doc_id")
        .collect()
    )
    assert bloomed == exact and exact  # identical, non-vacuous

    # prefilter effectiveness: every true dup tests positive, and novel rows
    # pass the filter at ~fpp — measure against the built bitmap directly
    bm_bytes, n_bits, n_hashes = bloom_build(corpus, ["text"], normalize=True, fpp=0.01)
    bm = np.frombuffer(bm_bytes, dtype=np.uint8)
    rows = batch.select(
        "doc_id", F.unhex(_content_hash(["text"], True)).alias("hb")
    ).collect()
    dup_ids = {r["doc_id"] for r in batch.select("doc_id").collect()} - set(exact)

    def might(hb):
        raw = np.frombuffer(hb, dtype=">u4")
        return all(bm[(raw[j] % n_bits) >> 3] & (1 << ((raw[j] % n_bits) & 7)) for j in range(n_hashes))

    positives = {r["doc_id"] for r in rows if might(r["hb"])}
    assert dup_ids <= positives  # no false negatives
    false_pos = positives - dup_ids
    assert len(false_pos) <= max(2, 0.1 * len(exact))  # ~fpp, generous slack


def test_bloom_artifact_roundtrip_and_prebuilt_path(spark, tmp_path):
    """The bloom bitmap persists as an ingest artifact (write/read
    roundtrip, format-checked) and a prebuilt bitmap yields the identical
    dedup answer without the build jobs."""
    import pytest as _pytest

    from fsql_spark.operators import (
        bloom_build,
        dedup_against,
        dedup_against_bloom,
        read_bloom,
        write_bloom,
    )
    from fsql_spark.operators.dedup import _incremental_batch

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    batch = _incremental_batch(spark, SF)
    bm, n_bits, n_hashes = bloom_build(corpus, ["text"], normalize=True)
    path = str(tmp_path / "bloom_artifact")
    write_bloom(path, bm, n_bits, n_hashes)
    loaded = read_bloom(path)
    assert loaded == (bm, n_bits, n_hashes)
    got = sorted(
        r["doc_id"]
        for r in dedup_against_bloom(
            batch, corpus, ["text"], normalize=True, bloom=loaded
        ).select("doc_id").collect()
    )
    want = sorted(
        r["doc_id"]
        for r in dedup_against(batch, corpus, ["text"], normalize=True).select("doc_id").collect()
    )
    assert got == want and want
    # a truncated artifact fails loudly, not with silent wrong membership
    with open(f"{path}/bloom.bin", "wb") as fd:
        fd.write(bm[: len(bm) // 2])
    with _pytest.raises(ValueError, match="bits"):
        read_bloom(path)


def test_minhash_against_cross_corpus(spark):
    """Appended-token variants match their source doc; half-truncations and
    within-side pairs never appear; jaccard values are exact."""
    from fsql_spark.operators import jaccard_pairs, minhash_lsh_pairs_against
    from fsql_spark.operators.dedup import q_minhash_incremental

    got = q_minhash_incremental(spark, SF).toPandas()
    assert (got["new_key"] >= 100000).all() and (got["corpus_key"] < 100000).all()
    # all matches are variant->source at this threshold, none from truncations
    assert (got["new_key"] < 200000).all()
    hits = {(r["new_key"], r["corpus_key"]) for _, r in got.iterrows()}
    assert len(hits & {(i + 100000, i) for i in range(25)}) >= 20  # recall
    # exactness audit: same pairs from the quadratic exact operator
    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    variants = corpus.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqx")).alias("text"),
    )
    both = corpus.select("doc_id", "text").unionByName(variants)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(both, "doc_id", "text", 0.8, ngram=3).collect()
    }
    for _, r in got.iterrows():
        pair = (r["corpus_key"], r["new_key"])
        if pair in exact:  # cross pairs present in the exact all-pairs run
            assert r["jaccard"] == exact[pair]


@pytest.mark.parametrize(
    "num_hashes,bands,ngram,threshold", [(32, 8, 3, 0.7), (64, 16, 2, 0.5)]
)
def test_minhash_against_equals_self_join_cross_pairs(spark, num_hashes, bands, ngram, threshold):
    """Both LSH modes share one core and bucket collisions are symmetric, so
    ``minhash_lsh_pairs_against(B, A)`` returns exactly the A×B pairs of
    ``minhash_lsh_pairs(A ∪ B)``, with equal jaccard values."""
    from fsql_spark.operators import minhash_lsh_pairs_against

    a = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    src = a.where(F.col("doc_id") < 25)
    # B's keys are disjoint from A's and above them; its two variant
    # families are near-dups of A and of each other
    b = src.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zzqx")).alias("text")
    ).unionByName(
        src.select(
            (F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zzqx yyqw")).alias("text")
        )
    )
    cfg = dict(threshold=threshold, num_hashes=num_hashes, bands=bands, ngram=ngram)
    both = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(a.unionByName(b), "doc_id", "text", **cfg).collect()
    }
    cross = {
        (r["corpus_key"], r["new_key"]): r["jaccard"]
        for r in minhash_lsh_pairs_against(b, a, "doc_id", "text", **cfg).collect()
    }
    expected = {p: j for p, j in both.items() if p[0] < 100000 <= p[1]}
    assert cross == expected
    assert len(cross) >= 20
    # the self-join also found within-B pairs, which the cross mode must not return
    assert any(p[0] >= 100000 for p in both)


def test_persisted_corpus_signatures_reused_by_batch(spark, tmp_path):
    """The 100 TB incremental flow: corpus signatures materialized ONCE via
    write_corpus_signatures, read back, and joined by a later batch —
    results identical to the in-plan (recompute-everything) formulation,
    and a config-mismatched read fails loudly."""
    import pytest as _pytest

    from fsql_spark.operators import (
        minhash_lsh_pairs_against,
        read_corpus_signatures,
        write_corpus_signatures,
    )

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    batch = corpus.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqx")).alias("text"),
    )
    url = str(tmp_path / "corpus_sigs")
    write_corpus_signatures(corpus, "doc_id", "text", url, num_hashes=64, ngram=3)

    sigs = read_corpus_signatures(spark, url, num_hashes=64, ngram=3)
    from_persisted = minhash_lsh_pairs_against(
        batch, None, "doc_id", "text",
        threshold=0.8, num_hashes=64, bands=16, ngram=3, corpus_sigs=sigs,
    ).toPandas().sort_values(["new_key", "corpus_key"], ignore_index=True)
    in_plan = minhash_lsh_pairs_against(
        batch, corpus, "doc_id", "text",
        threshold=0.8, num_hashes=64, bands=16, ngram=3,
    ).toPandas().sort_values(["new_key", "corpus_key"], ignore_index=True)
    assert from_persisted.equals(in_plan)
    assert len(from_persisted) > 0

    # wrong-config read must fail loudly, not bucket garbage
    with _pytest.raises(ValueError, match="num_hashes"):
        read_corpus_signatures(spark, url, num_hashes=32, ngram=3)
    # and the no-source, no-signatures call is rejected
    with _pytest.raises(ValueError, match="corpus_sigs"):
        minhash_lsh_pairs_against(batch, None, "doc_id", "text")

    # a table from an OLDER signature format (no __sig_fmt column) must be
    # refused: its shingles/kernels may not match the current definition,
    # and the failure mode of joining it anyway is silent zero recall
    legacy_url = str(tmp_path / "legacy_sigs")
    spark.read.parquet(url).drop("__sig_fmt").write.parquet(legacy_url)
    with _pytest.raises(ValueError, match="older signature format"):
        read_corpus_signatures(spark, legacy_url, num_hashes=64, ngram=3)


def test_resample_ffill_semantics(spark):
    """Dense contiguous grid per key; gaps carry the last observation; the
    per-bin value is the LATEST row's (selection, not aggregation)."""
    from datetime import datetime, timezone

    from fsql_spark.operators.asof import resample_ffill

    # timezone-AWARE instants: naive datetimes resolve in the host's local
    # zone, which under fractional-offset zones puts "midnight" off the
    # UTC hour grid and breaks the expected bin keys
    def utc(h, m):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)

    rows = [
        # key 1: two events in hour 0 (the later wins), a gap, one in hour 3
        (1, utc(0, 10), 100, 1.0),
        (1, utc(0, 50), 101, 2.0),
        (1, utc(3, 5), 102, 9.0),
        # key 2: single event
        (2, utc(5, 0), 200, 7.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, event_id long, value double")
    out = resample_ffill(df, "k", "ts", "event_id", ["value"], every_seconds=3600)
    got = {(r["k"], r["bin_start_us"]): r["value"] for r in out.collect()}
    h0 = int(utc(0, 0).timestamp()) * 1_000_000
    hour = 3600 * 1_000_000
    assert got[(1, h0)] == 2.0          # later event in the bin wins
    assert got[(1, h0 + hour)] == 2.0   # gap: forward-filled
    assert got[(1, h0 + 2 * hour)] == 2.0
    assert got[(1, h0 + 3 * hour)] == 9.0
    assert got[(2, h0 + 5 * hour)] == 7.0
    assert len([k for k in got if k[0] == 1]) == 4  # contiguous, no extras


def test_resample_interpolate_semantics(spark):
    """Interior gaps take the straight line between the surrounding anchors;
    edges clamp to the nearest anchor; observed bins keep the latest row's
    exact value (selection, not aggregation)."""
    from datetime import datetime, timezone

    from fsql_spark.operators.asof import resample_interpolate

    def utc(h, m):
        return datetime(2024, 1, 1, h, m, tzinfo=timezone.utc)

    rows = [
        # key 1: anchors at hours 0 (value 2.0, later row wins) and 4 (10.0)
        (1, utc(0, 10), 100, 1.0),
        (1, utc(0, 50), 101, 2.0),
        (1, utc(4, 5), 102, 10.0),
        # key 2: single event — every bin is that anchor
        (2, utc(5, 0), 200, 7.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, event_id long, value double")
    out = resample_interpolate(df, "k", "ts", "event_id", "value", every_seconds=3600)
    got = {(r["k"], r["bin_start_us"]): r["value"] for r in out.collect()}
    h0 = int(utc(0, 0).timestamp()) * 1_000_000
    hour = 3600 * 1_000_000
    assert got[(1, h0)] == 2.0                 # anchor: latest row in bin
    assert got[(1, h0 + hour)] == 4.0          # 2 + (10-2) * 1/4
    assert got[(1, h0 + 2 * hour)] == 6.0
    assert got[(1, h0 + 3 * hour)] == 8.0
    assert got[(1, h0 + 4 * hour)] == 10.0
    assert got[(2, h0 + 5 * hour)] == 7.0      # single anchor: clamp
    assert len([k for k in got if k[0] == 1]) == 5

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive integer"):
        resample_interpolate(df, "k", "ts", "event_id", "value", 0.5)


def test_weighted_sample_matches_python_model(spark):
    """Efraimidis-Spirakis draw equals a pure-Python replica of the same
    md5-derived keys; heavier rows appear when their key wins, zero-weight
    rows never appear."""
    import hashlib
    import math

    from fsql_spark.operators.sampling import weighted_sample_topk

    rows = [(i, (i * 37) % 11) for i in range(40)]  # weights 0..10, some zero
    df = spark.createDataFrame(rows, "doc_id long, w long")
    k = 10
    got = sorted(r["doc_id"] for r in weighted_sample_topk(df, "doc_id", "w", k).collect())

    def key(i, w):
        v = int(hashlib.md5(f"{i}-42".encode()).hexdigest()[:13], 16)
        return math.log((v + 1.0) / float(1 << 52)) / w

    scored = [(key(i, w), -i) for i, w in rows if w > 0]
    want = sorted(-i for _, i in sorted(scored, reverse=True)[:k])
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        weighted_sample_topk(df, "doc_id", "w", 0)


def test_pmi_collocations_match_hand_computed(spark):
    """PMI on a toy corpus vs the formula computed in Python; adjacent
    pairs only, min_count cut applied, single-token docs emit nothing."""
    import math

    from fsql_spark.operators.vocab import pmi_collocations

    docs = spark.createDataFrame(
        [(0, "new york new york is big"), (1, "new york"), (2, "big"), (3, "")],
        "doc_id long, text string",
    )
    got = {(r["token_a"], r["token_b"]): (r["n_ab"], r["pmi"]) for r in
           pmi_collocations(docs, min_count=2).collect()}
    # bigrams: (new,york) x3, (york,new) x1, (york,is) x1, (is,big) x1 => Nb=6
    # unigrams: new x3, york x3, is x1, big x2 => Nu=9
    assert set(got) == {("new", "york")}
    n_ab, pmi = got[("new", "york")]
    assert n_ab == 3
    expect = math.log((3 / 6) / ((3 / 9) * (3 / 9)))
    assert pmi == pytest.approx(expect, rel=1e-12)


def test_keyness_matches_hand_computed_g2(spark):
    """G2 on a 2-group toy corpus vs the textbook formula computed in
    Python; only overrepresented (group-rate > corpus-rate) terms emitted."""
    import math

    from fsql_spark.operators.mixing import group_token_counts, keyness_terms

    docs = spark.createDataFrame(
        [("s1", "apple apple banana"), ("s2", "banana cherry cherry cherry")],
        "source string, text string",
    )
    counts = group_token_counts(docs, "source")
    total = counts.agg(F.sum("tf")).collect()[0][0]
    assert total == 7
    got = {(r["source"], r["token"]): r["g2"] for r in
           keyness_terms(counts, total, "source").collect()}

    def g2(a, b, ns, no, n=7.0):
        tot = a + b
        ea, eb = ns * tot / n, no * tot / n
        out = a * math.log(a / ea)
        if b > 0:
            out += b * math.log(b / eb)
        return 2.0 * out

    # apple: only in s1 (a=2, b=0); cherry: only in s2 (a=3, b=0);
    # banana: 1 of 3 in s1 (rate 1/3 > 2/7 -> overrepresented in s1 only)
    assert got[("s1", "apple")] == pytest.approx(g2(2, 0, 3, 4), rel=1e-12)
    assert got[("s2", "cherry")] == pytest.approx(g2(3, 0, 4, 3), rel=1e-12)
    assert got[("s1", "banana")] == pytest.approx(g2(1, 1, 3, 4), rel=1e-12)
    assert ("s2", "banana") not in got  # rate 1/4 < 2/7: underrepresented
    assert ("s2", "apple") not in got  # absent terms never emitted


def test_zipf_slope_matches_numpy_polyfit(spark):
    """The explicit-sums slope equals numpy's least-squares fit on the same
    (ln rank, ln tf) points; an exact power law recovers its exponent."""
    import numpy as np

    from fsql_spark.operators.mixing import zipf_slopes

    # exact Zipf with exponent -1: tf = 1200 / rank for ranks 1..8
    rows = [("s", f"tok{r:02d}", 1200 // r) for r in range(1, 9)]
    counts = spark.createDataFrame(rows, "source string, token string, tf long")
    got = zipf_slopes(counts, "source").collect()[0]
    x = np.log(np.arange(1, 9, dtype=float))
    y = np.log(np.array([1200 // r for r in range(1, 9)], dtype=float))
    expect = np.polyfit(x, y, 1)[0]
    assert got["n_tokens"] == 8
    assert got["slope"] == pytest.approx(expect, rel=1e-9)
    assert got["slope"] == pytest.approx(-1.0, abs=0.01)


def test_last_touch_attribution_semantics(spark):
    """The attributed channel is the latest qualifying touch STRICTLY before
    the conversion (same-row conversions never self-attribute); no prior
    touch -> NULL; ts ties break by the order column."""
    from datetime import datetime, timezone

    from fsql_spark.operators.sequence import last_touch_attribution

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)

    rows = [
        # user 1: view -> click -> purchase (click wins: latest touch)
        (1, t(1), 1, "view", 0.0),
        (1, t(2), 2, "click", 0.0),
        (1, t(3), 3, "purchase", 10.0),
        # user 1 again: error between touch and purchase is transparent
        (1, t(4), 4, "view", 0.0),
        (1, t(5), 5, "error", 0.0),
        (1, t(6), 6, "purchase", 5.0),
        # user 2: purchase with NO prior touch -> NULL channel
        (2, t(1), 7, "purchase", 3.0),
        # user 3: ts tie — higher event_id is the later touch
        (3, t(1), 8, "view", 0.0),
        (3, t(1), 9, "click", 0.0),
        (3, t(2), 10, "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    out = last_touch_attribution(
        df, "user_id", "ts", "event_id", "event_type",
        conversion_type="purchase", touch_types=["click", "view"],
    )
    got = {r["event_id"]: r["channel"] for r in out.collect()}
    assert got == {3: "click", 6: "view", 7: None, 10: "click"}


def test_sequence_ngrams_semantics(spark):
    """Trigrams stay within a user's sequence (no cross-user runs), short
    sequences emit nothing, n validates."""
    from datetime import datetime, timezone

    from fsql_spark.operators.sequence import sequence_ngrams

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)

    rows = [
        (1, t(1), 1, "a"), (1, t(2), 2, "b"), (1, t(3), 3, "c"), (1, t(4), 4, "a"),
        (2, t(1), 5, "x"), (2, t(2), 6, "y"),  # too short for a trigram
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    got = {(r["t1"], r["t2"], r["t3"]): r["cnt"] for r in
           sequence_ngrams(df, "user_id", "ts", "event_id", "event_type", 3).collect()}
    assert got == {("a", "b", "c"): 1, ("b", "c", "a"): 1}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be"):
        sequence_ngrams(df, "user_id", "ts", "event_id", "event_type", 1)


def test_transition_matrix_semantics(spark):
    """Consecutive pairs per user (final events emit none); probabilities
    row-normalize over the FIRST type."""
    from datetime import datetime, timezone

    from fsql_spark.operators.sequence import transition_matrix

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s, tzinfo=timezone.utc)

    rows = [
        (1, t(1), 1, "a"), (1, t(2), 2, "b"), (1, t(3), 3, "a"),
        (2, t(1), 4, "a"), (2, t(2), 5, "a"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, event_type string")
    out = transition_matrix(df, "user_id", "ts", "event_id", "event_type")
    got = {(r["type"], r["next_type"]): (r["n"], r["p"]) for r in out.collect()}
    # pairs: u1 a->b, b->a; u2 a->a  => from 'a': b(1/2), a(1/2); from 'b': a(1/1)
    assert got == {("a", "b"): (1, 0.5), ("a", "a"): (1, 0.5), ("b", "a"): (1, 1.0)}


def test_sequence_reserved_output_columns_rejected(spark):
    """'channel' / 'next_type' are reserved OUTPUT names: inputs already
    carrying them would be silently clobbered by the withColumn, so both
    operators refuse them up front."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from fsql_spark.operators.sequence import (
        last_touch_attribution,
        transition_matrix,
    )

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    with_channel = spark.createDataFrame(
        [(1, ts, 1, "view", "paid")],
        "user_id long, ts timestamp, event_id long, event_type string, channel string",
    )
    with _pytest.raises(ValueError, match="reserves the output column 'channel'"):
        last_touch_attribution(
            with_channel, "user_id", "ts", "event_id", "event_type",
            conversion_type="purchase", touch_types=["view"],
        )

    with_next = spark.createDataFrame(
        [(1, ts, 1, "view", "x")],
        "user_id long, ts timestamp, event_id long, event_type string, next_type string",
    )
    with _pytest.raises(ValueError, match="reserves the output column 'next_type'"):
        transition_matrix(with_next, "user_id", "ts", "event_id", "event_type")


# --------------------------------------------------------------------------
# unigram LM perplexity, quality filter, anomaly detection (round 5)
# --------------------------------------------------------------------------

def test_unigram_model_matches_python(spark):
    """Model + per-doc cross-entropy vs a pure-Python reference on a
    handcrafted corpus: Laplace smoothing, top-K cut determinism, OOV path."""
    import math
    from collections import Counter

    from fsql_spark.operators.lm import doc_cross_entropy, unigram_model

    rows = [
        (0, "a a b c"),
        (1, "a b b d d"),
        (2, "e e e a"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    top_k = 3
    model, oov_lp, total_tf, vocab_size = unigram_model(df, top_k=top_k)

    # python reference
    toks = {i: t.split(" ") for i, t in rows}
    counts = Counter(w for ws in toks.values() for w in ws)
    assert total_tf == sum(counts.values())
    assert vocab_size == top_k
    denom = total_tf + top_k + 1
    kept = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    exp_model = {w: math.log((c + 1) / denom) for w, c in kept}
    got_model = {r["token"]: r["logprob"] for r in model.collect()}
    assert got_model.keys() == exp_model.keys()
    for w, lp in exp_model.items():
        assert abs(got_model[w] - lp) < 1e-12
    assert abs(oov_lp - math.log(1 / denom)) < 1e-12

    scored = {r["doc_id"]: r for r in doc_cross_entropy(df, model, oov_lp).collect()}
    for i, ws in toks.items():
        lps = [exp_model.get(w, oov_lp) for w in ws]
        ce = -sum(lps) / len(lps)
        assert scored[i]["n_tokens"] == len(ws)
        assert scored[i]["n_oov"] == sum(1 for w in ws if w not in exp_model)
        assert abs(scored[i]["cross_entropy"] - ce) < 1e-9
        assert abs(scored[i]["perplexity"] - math.exp(ce)) < 1e-6


def test_quality_filter_rule_boundaries(spark):
    """Each Gopher rule flips exactly at its documented boundary."""
    from fsql_spark.operators import quality_filter

    rows = [
        (0, " ".join(["the"] + ["tok%d" % i for i in range(19)])),   # n=20 ok, distinct, stopword
        (1, " ".join(["the"] + ["tok%d" % i for i in range(18)])),   # n=19 -> r_word_count False
        (2, " ".join(["a"] * 30)),                                    # repetition: 1/30 < 0.3
        (3, " ".join(["supercalifragilistic"] * 10 + ["the"] * 15)),  # awl > 7 -> r_word_len False
        (4, " ".join(["tok%d" % i for i in range(25)])),              # no stopword
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in quality_filter(df).collect()}
    assert got[0]["r_word_count"] and got[0]["r_word_len"] and got[0]["r_stopword"] and got[0]["r_repetition"]
    assert got[0]["passes"]
    assert not got[1]["r_word_count"] and not got[1]["passes"]
    assert not got[2]["r_repetition"] and got[2]["r_stopword"]
    assert not got[3]["r_word_len"]
    assert not got[4]["r_stopword"] and got[4]["r_repetition"]


def test_events_anomaly_threshold_margin(spark):
    """The z >= 3 membership and the 3dp rounding of the anomaly entry must
    be robust to cross-engine floating-moment noise (~1e-12): pin BOTH
    margins as data properties so a testdata regeneration that lands an
    event near a boundary fails here (a data issue), not as an inexplicable
    driver oracle mismatch."""
    from fsql_spark.relational import _t

    ev = _t(spark, "/root/testdata/sf0.01", "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    z = ((F.col("value") - F.col("mu")) / F.col("sigma")).alias("z")
    zs = [r["z"] for r in ev.join(stats, "event_type").select(z).collect()]
    min_thresh_dist = min(abs(v - 3.0) for v in zs)
    assert min_thresh_dist > 1e-6, f"an event sits {min_thresh_dist} from the z=3 threshold"
    # rounding boundary: retained z values must not sit on a .0005 edge
    retained = [v for v in zs if v >= 3.0]
    assert retained, "margin check is vacuous: no anomalies in testdata"
    min_round_dist = min(abs((v * 1000) % 1.0 - 0.5) for v in retained)
    assert min_round_dist > 1e-6, "a retained z sits on a 3dp rounding boundary"


def test_unigram_model_persistence_roundtrip(spark, tmp_path):
    """Train-once lifecycle: persisted model reloads bit-identically and
    scores a new batch exactly like the in-memory model; format/config
    tampering refuses loudly."""
    import pytest as _pytest

    from fsql_spark.operators.lm import (
        doc_cross_entropy,
        read_unigram_model,
        unigram_model,
        write_unigram_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    model, oov_lp, total_tf, vocab_size = unigram_model(docs, top_k=20)
    url = str(tmp_path / "lm_model")
    write_unigram_model(model, oov_lp, total_tf, vocab_size, url)

    model2, oov2, tf2, vs2 = read_unigram_model(spark, url)
    assert (oov2, tf2, vs2) == (oov_lp, total_tf, vocab_size)
    assert {tuple(r) for r in model2.collect()} == {tuple(r) for r in model.collect()}

    batch = docs.where(F.col("doc_id") < 50)
    fresh = {r["doc_id"]: r["cross_entropy"] for r in doc_cross_entropy(batch, model, oov_lp).collect()}
    loaded = {r["doc_id"]: r["cross_entropy"] for r in doc_cross_entropy(batch, model2, oov2).collect()}
    assert fresh == loaded  # exact float equality: same model, same kernel

    # mixed-config append must refuse (aggregate check, not first-row)
    model_b, oov_b, tf_b, vs_b = unigram_model(docs, top_k=10)
    from fsql_spark.api import write_table
    from pyspark.sql import functions as SF_
    mixed = (
        model_b.withColumn("__oov_logprob", SF_.lit(float(oov_b)))
        .withColumn("__total_tf", SF_.lit(int(tf_b)))
        .withColumn("__vocab_size", SF_.lit(int(vs_b)))
        .withColumn("__lm_fmt", SF_.lit(1))
    )
    write_table(mixed, url, mode="append")
    with _pytest.raises(ValueError, match="MIXED"):
        read_unigram_model(spark, url)

    # SAME-config append passes distinct-meta but duplicates token rows —
    # the vocab-size row-count pin must catch it (each dup token would
    # double-count via broadcast-join fan-out in doc_cross_entropy)
    url2 = str(tmp_path / "lm_model_dup")
    write_unigram_model(model, oov_lp, total_tf, vocab_size, url2)
    dup = (
        model.limit(3)
        .withColumn("__oov_logprob", SF_.lit(float(oov_lp)))
        .withColumn("__total_tf", SF_.lit(int(total_tf)))
        .withColumn("__vocab_size", SF_.lit(int(vocab_size)))
        .withColumn("__lm_fmt", SF_.lit(1))
    )
    write_table(dup, url2, mode="append")
    with _pytest.raises(ValueError, match="appended to"):
        read_unigram_model(spark, url2)


def test_bigram_model_persistence_roundtrip(spark, tmp_path):
    """Persisted bigram table reloads bit-identically and scores exactly
    like the in-memory one; format tamper and same-config appends refuse."""
    from fsql_spark.operators.lm import (
        bigram_model,
        doc_bigram_cross_entropy,
        read_bigram_model,
        unigram_model,
        write_bigram_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    uni, oov_lp, _, V = unigram_model(docs, top_k=20)
    bi = bigram_model(docs, V, top_k=50)
    url = str(tmp_path / "bi_model")
    write_bigram_model(bi, V, url)
    bi2, V2 = read_bigram_model(spark, url)
    assert V2 == V
    assert {tuple(r) for r in bi2.collect()} == {tuple(r) for r in bi.collect()}
    batch = docs.where(F.col("doc_id") < 30)
    a = {r["doc_id"]: r["cross_entropy"]
         for r in doc_bigram_cross_entropy(batch, uni, oov_lp, bi).collect()}
    b = {r["doc_id"]: r["cross_entropy"]
         for r in doc_bigram_cross_entropy(batch, uni, oov_lp, bi2).collect()}
    assert a == b
    spark.read.parquet(url).limit(2).write.mode("append").parquet(url)
    with pytest.raises(ValueError, match="appended to"):
        read_bigram_model(spark, url)
    bare = docs.limit(1).select(F.lit("a").alias("prev"))
    bare.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    with pytest.raises(ValueError, match="lacks metadata"):
        read_bigram_model(spark, str(tmp_path / "bare"))


def test_bigram_stateless_scorer_equals_join_formulation(spark):
    """The dict-in-closure kernel scorer must agree with the broadcast-join
    scorer to float exactness on the real corpus slice (same backoff
    chain, same zero-token exclusion) — the property that makes it safe to
    run the SAME scoring on a readStream."""
    from fsql_spark.operators.lm import (
        bigram_model,
        doc_bigram_cross_entropy,
        doc_bigram_cross_entropy_stateless,
        unigram_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    uni, oov_lp, _, V = unigram_model(docs, top_k=20)
    bi = bigram_model(docs, V, top_k=50)
    batch = docs.where(F.col("doc_id") < 40)
    joined = {
        r["doc_id"]: (r["n_tokens"], r["n_bigram_hits"], r["cross_entropy"])
        for r in doc_bigram_cross_entropy(batch, uni, oov_lp, bi).collect()
    }
    kernel = {
        r["doc_id"]: (r["n_tokens"], r["n_bigram_hits"], r["cross_entropy"])
        for r in doc_bigram_cross_entropy_stateless(batch, uni, oov_lp, bi).collect()
    }
    assert joined.keys() == kernel.keys()
    for d in joined:
        assert joined[d][:2] == kernel[d][:2]
        assert abs(joined[d][2] - kernel[d][2]) < 1e-9, d


def test_bigram_lm_backoff_matches_python_model(spark):
    """Bigram scorer vs an independent pure-Python model on a corpus with
    known pair structure: bigram layer for kept pairs, unigram backoff for
    unseen pairs AND first tokens, OOV for unknown tokens; degenerate docs
    (empty / one-token / multi-space) handled."""
    import math as m

    from fsql_spark.operators.lm import (
        bigram_model,
        doc_bigram_cross_entropy,
        unigram_model,
    )

    texts = {
        0: "a b a b a b",     # dominant pair (a,b) and (b,a)
        1: "a c",              # pair below the cut -> backoff to unigrams
        2: "a",                # single token: unigram only, no pairs
        3: "zzz a b",          # OOV first token
        4: "",                 # empty: no output row
        5: "a  b",             # double space: filtered tokens, pair (a,b)
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    uni, oov_lp, total_tf, V = unigram_model(docs, top_k=3)  # vocab {a,b,c} by tf
    bi = bigram_model(docs, V, top_k=2)  # keeps (a,b) and (b,a) only
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_bigram_hits"], r["cross_entropy"])
        for r in doc_bigram_cross_entropy(docs, uni, oov_lp, bi).collect()
    }
    assert 4 not in got and set(got) == {0, 1, 2, 3, 5}

    # independent python model
    toks = {d: [t for t in s.split(" ") if t] for d, s in texts.items()}
    from collections import Counter
    uc = Counter(t for ts in toks.values() for t in ts)
    vocab = dict(sorted(uc.items(), key=lambda kv: (-kv[1], kv[0]))[:3])
    T = sum(uc.values())
    uni_lp = {t: m.log((c + 1) / (T + len(vocab) + 1)) for t, c in vocab.items()}
    oov = m.log(1 / (T + len(vocab) + 1))
    pc = Counter((ts[i - 1], ts[i]) for ts in toks.values() for i in range(1, len(ts)))
    ctx = Counter()
    for (p, _), c in pc.items():
        ctx[p] += c
    kept = dict(sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:2])
    bi_lp = {pr: m.log((c + 1) / (ctx[pr[0]] + len(vocab) + 1)) for pr, c in kept.items()}
    for d, ts in toks.items():
        if not ts:
            continue
        lps, hits = [], 0
        for i, t in enumerate(ts):
            pair = (ts[i - 1], t) if i else None
            if pair in bi_lp:
                lps.append(bi_lp[pair]); hits += 1
            else:
                lps.append(uni_lp.get(t, oov))
        want = (len(ts), hits, -sum(lps) / len(ts))
        assert got[d][0] == want[0] and got[d][1] == want[1]
        assert abs(got[d][2] - want[2]) < 1e-12, (d, got[d], want)


def test_document_operators_survive_degenerate_corpus(spark):
    """Empty / whitespace-only / shorter-than-ngram documents are certain at
    crawl scale; every document operator must process them without error
    (ANSI mode turns a sloppy ratio into a job-killing DIVIDE_BY_ZERO —
    this caught minhash's all-empty-docs band collision). Near-dup
    operators exclude empty-shingle docs (Jaccard undefined on empty sets;
    the exact inverted-index path drops them identically); empty docs are
    exact-dedup's concern."""
    from fsql_spark.operators import (
        dedup_exact,
        jaccard_pairs,
        minhash_lsh_pairs,
        quality_filter,
        simhash_pairs,
        with_text_stats,
    )
    from fsql_spark.operators.lm import doc_cross_entropy, unigram_model
    from fsql_spark.operators.passages import (
        duplicated_passages,
        passage_dup_fraction,
        strip_duplicated_passages,
    )

    long = "x y z w v u t s r q p o n m l k"
    rows = [(0, ""), (1, " "), (2, "tok"), (3, "a b"), (4, ""), (5, long), (6, long)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # near-dup: no pairs among empty docs, identical long docs still found
    mh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(df, "doc_id", "text", 0.8, ngram=3).collect()}
    jc = {(r["doc_a"], r["doc_b"]) for r in jaccard_pairs(df, "doc_id", "text", 0.8, ngram=3).collect()}
    assert mh == jc == {(5, 6)}
    # exact dedup DOES collapse the empty dups (that's its job)
    kept = {r["doc_id"] for r in dedup_exact(df, ["text"], "doc_id").collect()}
    assert 0 in kept and 4 not in kept and 5 in kept and 6 not in kept
    # everything else just runs
    assert len(simhash_pairs(df, "doc_id", "text", 3).collect()) >= 1
    assert len(with_text_stats(df).collect()) == 7
    assert len(quality_filter(df).collect()) == 7
    assert len(duplicated_passages(df, "doc_id", "text", k=4).collect()) >= 1
    assert len(passage_dup_fraction(df, "doc_id", "text", k=4).collect()) == 7
    assert len(strip_duplicated_passages(df, "doc_id", "text", k=4).collect()) == 7
    model, oov, _, _ = unigram_model(df, top_k=5)
    # docs 0, 1, 4 have zero tokens (empty / whitespace-only): no score row
    assert len(doc_cross_entropy(df, model, oov).collect()) == 4


def test_similarity_operators_survive_zero_norm_and_any_dim(spark):
    """Zero-norm embeddings (dead rows from a failed encoder) must not kill
    the job: cosine is NULL under try_divide and threshold filters drop it;
    the brute-force kernels clamp norms. The LSH plane matrix is regenerated
    per kernel from the OBSERVED width (pure function of seed+shape), so the
    operator works at any dimension; pinning dim= raises on mismatch."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from fsql_spark.operators.similarity import (
        brute_force_pairs,
        brute_force_topk,
        lsh_ann_pairs,
    )

    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))]
    )
    emb = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [1.0] + [0.0] * 7), (2, [0.5] * 8), (3, [0.6] * 8)], schema
    )
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_ann_pairs(emb, "vec_id", "embedding", 0.3, n_planes=4, n_tables=4).collect()
    }
    assert (2, 3) in pairs and all(0 not in p for p in pairs)  # zero vector never matches
    with pytest.raises(Exception, match="expected 64-dim"):
        lsh_ann_pairs(emb, "vec_id", "embedding", 0.3, n_planes=4, n_tables=4, dim=64).collect()
    # zero-config default: first-row width is probed and PINNED, so a
    # mixed-width corpus (partial re-embedding) fails loudly instead of
    # silently bucketing per-width plane families (advice find)
    mixed = emb.unionByName(
        spark.createDataFrame([(9, [1.0] * 16)], schema)
    )
    with pytest.raises(Exception, match="expected 8-dim"):
        lsh_ann_pairs(mixed, "vec_id", "embedding", 0.3, n_planes=4, n_tables=4).collect()
    # empty input: no probe pin, no kernel run, clean empty result
    assert lsh_ann_pairs(
        emb.where("vec_id < 0"), "vec_id", "embedding", 0.3, n_planes=4, n_tables=4
    ).count() == 0
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_pairs(emb, emb, "vec_id", "embedding", 0.3).collect()
    }
    assert all(0 not in p for p in bf)  # clamped norm -> cosine 0 -> below threshold
    assert len(brute_force_topk(emb, emb.where(F.col("vec_id") < 2), "vec_id", "embedding", k=2).collect()) == 4


def test_argument_validation_fails_fast_not_mid_job(spark):
    """Degenerate parameters (empty histogram range, non-positive shard
    budget) must raise at plan-build time, not surface as an ANSI
    DIVIDE_BY_ZERO from an executor after the scan/sort already ran."""
    from fsql_spark.operators.profile import histogram
    from fsql_spark.operators.sampling import pack_shards

    df = spark.createDataFrame([(0, 5.0)], "id long, v double")
    with pytest.raises(ValueError, match="range is empty"):
        histogram(df, "v", 5.0, 5.0, 10)
    with pytest.raises(ValueError, match="n_buckets"):
        histogram(df, "v", 0.0, 1.0, 0)
    with pytest.raises(ValueError, match="budget"):
        pack_shards(df, "id", "v", 0.0)
    # empty input stays a well-formed empty result, not an error
    empty = spark.createDataFrame([], "id long, v double")
    assert histogram(empty, "v", 0.0, 1.0, 10).count() == 0
    assert pack_shards(empty, "id", "v", 100.0).count() == 0


def test_corpus_pipeline_v2_gates_compose(spark):
    """The quality-gated build is a strict composition: result keys are a
    subset of the Gopher-pass set, both gates and the dedup have visible
    effect on testdata, split labels are complete — and the ce-cutoff
    margin is pinned as a data property (nearest doc >= 1e-3 from 3.6, so
    cross-engine float noise cannot flip membership; the gate itself
    compares ROUND(ce,4) on both engines)."""
    from fsql_spark.operators import build_corpus_quality_gated, quality_filter
    from fsql_spark.operators.lm import doc_cross_entropy, unigram_model

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = build_corpus_quality_gated(docs).collect()
    kept = {r["doc_id"] for r in out}
    gopher = {r["doc_id"] for r in quality_filter(docs).where("passes").collect()}
    assert kept <= gopher
    assert 0 < len(kept) < docs.count()  # gates are not vacuous
    assert {r["split"] for r in out} <= {"train", "val", "test"}

    m, oov, _, _ = unigram_model(docs, top_k=30)
    ces = [r["cross_entropy"] for r in doc_cross_entropy(docs, m, oov).collect()]
    margin = min(abs(c - 3.6) for c in ces)
    assert margin >= 1e-3, f"a doc sits {margin} from the ce cutoff; pick a new cutoff"


def test_range_join_supports_self_join_and_validates(spark):
    """Burst detection over ONE stream is a self-join: shared column names
    (incl. left_ts == right_ts) must resolve, with collisions suffixed.
    Zero tolerance fails fast instead of dividing by zero mid-band."""
    import datetime as dt

    from fsql_spark.operators.asof import range_join, resample_ffill

    T = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 7, T, 1.0), (2, 7, T + dt.timedelta(seconds=30), 2.0),
         (3, 7, T + dt.timedelta(seconds=300), 3.0)],
        "id long, user long, ts timestamp, v double",
    )
    out = range_join(ev, ev, ["user"], "ts", "ts", 60_000_000)
    assert {"id", "ts", "v", "id_right", "ts_right", "v_right"} <= set(out.columns)
    pairs = {(r["id"], r["id_right"]) for r in out.where(F.col("id") < F.col("id_right")).collect()}
    assert pairs == {(1, 2)}  # 30 s apart; event 3 is 270 s from its nearest
    with pytest.raises(ValueError, match="tolerance_us"):
        range_join(ev, ev, ["user"], "ts", "ts", 0)
    with pytest.raises(ValueError, match="every_seconds"):
        resample_ffill(ev, "user", "ts", "id", ["v"], 0)


def test_minhash_collapse_exact_kills_dup_class_quadratics(spark, docs_with_dups):
    """collapse_exact pre-collapses exact-dup classes to their min-key
    representative: the result equals running LSH on the exact-deduped
    corpus, within-class pairs vanish (that layer belongs to
    dedup_exact_keys), and cross-content near-dup pairs survive with the
    canonical keys."""
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs_with_dups, "doc_id", "text", 0.9, ngram=3).collect()
    }
    collapsed = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs_with_dups, "doc_id", "text", 0.9, ngram=3, collapse_exact=True
        ).collect()
    }
    pre = dedup_exact(docs_with_dups, ["text"], "doc_id")
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(pre, "doc_id", "text", 0.9, ngram=3).collect()
    }
    assert collapsed == expected
    # the exact-dup layer (pairs with the +100000 copies) is gone...
    assert all(b != a + 100000 for a, b in collapsed)
    assert any(b == a + 100000 for a, b in plain)
    # ...but the near-dup layer (the +200000 perturbed copies) survives
    assert any(b == a + 200000 for a, b in collapsed)
    # a signed table has no text to collapse — refuse, don't silently ignore
    from fsql_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(docs_with_dups, "doc_id", "text", 32, 3)
    with pytest.raises(ValueError, match="collapse_exact"):
        minhash_lsh_pairs(None, "doc_id", "text", 0.9, sigs=sigs, collapse_exact=True)


def test_simhash_collapse_exact_kills_dup_class_quadratics(spark, docs_with_dups):
    """Same lever as minhash: exact copies are hamming-0 pairs by definition
    (quadratic OUTPUT in dup-class size), so collapse_exact must make the
    result equal simhash over the exact-deduped corpus — within-class pairs
    vanish, cross-content near-dups survive on canonical keys."""
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(docs_with_dups, "doc_id", "text", 7).collect()
    }
    collapsed = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(
            docs_with_dups, "doc_id", "text", 7, collapse_exact=True
        ).collect()
    }
    pre = dedup_exact(docs_with_dups, ["text"], "doc_id")
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(pre, "doc_id", "text", 7).collect()
    }
    assert collapsed == expected
    # the exact-dup (hamming-0 copy) layer is gone...
    assert all(b != a + 100000 for a, b in collapsed)
    assert any(b == a + 100000 for a, b in plain)
    assert len(collapsed) < len(plain)
    # ...but the near-dup layer survives (the ' zzqx' suffix perturbs one
    # token — signature stays within the radius for most docs)
    assert any(b == a + 200000 for a, b in collapsed)


def test_quantized_topk_recall_and_quantizer_exactness(spark):
    """int8 quantize-then-rerank ANN: (a) the quantizer's numpy kernel twin
    agrees with the Column formulation code-for-code; (b) top-k with exact
    re-rank recovers most of the brute-force neighbors; (c) returned
    cosines are EXACT (float re-rank), not approximations."""
    import numpy as np

    from fsql_spark.operators.similarity import (
        _quantize_np,
        brute_force_topk,
        quantize_embeddings,
        quantized_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # (a) Column vs numpy twin
    rows = quantize_embeddings(emb.limit(50), "vec_id", "embedding").collect()
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    np_codes = _quantize_np(mat)
    for i, r in enumerate(rows):
        assert list(r["qvec"]) == list(np_codes[i]), r["vec_id"]
        assert abs(r["scale"] - np.abs(mat[i]).max() / 127.0) < 1e-12
    # (b) recall vs brute force
    qs = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qs, "vec_id", "embedding", k=10).collect()
    }
    approx_rows = quantized_topk(emb, qs, "vec_id", "embedding", k=10, rerank=40).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall
    # (c) per-query exactly k rows, ranks 1..k, cosines from the FLOAT side
    from collections import Counter
    per_q = Counter(r["query_id"] for r in approx_rows)
    assert all(v == 10 for v in per_q.values())
    assert all(1 <= r["rank"] <= 10 and r["cos"] <= 1.0001 for r in approx_rows)
    with pytest.raises(ValueError, match="rerank"):
        quantized_topk(emb, qs, "vec_id", "embedding", k=10, rerank=5)


def test_ivf_centroid_persistence_roundtrip(spark, tmp_path):
    """Train-once quantizer lifecycle: persisted centroids reload
    bit-identically, batch assignment with the loaded quantizer equals
    assignment with the in-memory one, and format/config tampering
    refuses loudly."""
    import numpy as np

    from fsql_spark.operators.similarity import (
        assign_with_centroids,
        ivf_assign,
        read_ivf_centroids,
        write_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned, cents = ivf_assign(emb, "vec_id", "embedding", n_centroids=8, iterations=1)
    url = str(tmp_path / "ivf_centroids")
    write_ivf_centroids(spark, cents, url, seed=42, iterations=1)

    cents2, seed2, it2 = read_ivf_centroids(spark, url)
    assert (seed2, it2) == (42, 1)
    assert np.array_equal(cents, cents2)

    fresh = {r["k"]: r["centroid_id"] for r in assigned.collect()}
    loaded = {
        r["k"]: r["centroid_id"]
        for r in assign_with_centroids(emb, "vec_id", "embedding", cents2).collect()
    }
    assert fresh == loaded

    # a table missing the metadata refuses
    import pandas as pd
    bare = spark.createDataFrame(pd.DataFrame({"centroid_id": [0], "vector": [[0.0]]}))
    bare.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    with pytest.raises(ValueError, match="lacks metadata"):
        read_ivf_centroids(spark, str(tmp_path / "bare"))

    # SAME-config append: distinct-meta passes, centroid ids duplicate —
    # the dense-id pin (count == max_id + 1, no dups) must refuse
    spark.read.parquet(url).limit(2).write.mode("append").parquet(url)
    with pytest.raises(ValueError, match="duplicated or missing"):
        read_ivf_centroids(spark, url)


def test_semantic_dedup_against_persisted_kept_lifecycle(spark, tmp_path):
    """Incremental SemDeDup production lifecycle: persist the kept corpus
    assigned under a fixed quantizer, dedup a new batch against the LOADED
    table, and get exactly what the in-plan (raw-kept) path gives. Plus the
    config guards: missing metadata, quantizer mismatch, mixed configs."""
    import numpy as np

    from pyspark.sql import functions as F

    from fsql_spark.operators.similarity import (
        _as_double,
        _centroid_seed_hash,
        read_semdedup_kept,
        semantic_dedup_against,
        write_semdedup_kept,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    kept = emb.where(F.col("vec_id") % 2 == 0)
    clones = emb.where(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    new = emb.where(F.col("vec_id") % 2 == 1).unionByName(clones)
    base = kept.select(F.col("vec_id").alias("k"), _as_double("embedding").alias("v"))
    init = (
        base.withColumn("__h", _centroid_seed_hash(F.col("k"), 42))
        .orderBy("__h", "k").limit(16).select("v").collect()
    )
    cents = np.array([r["v"] for r in init], dtype=np.float64)

    url = str(tmp_path / "kept_corpus")
    write_semdedup_kept(kept, "vec_id", "embedding", url, centroids=cents, seed=42)
    loaded = read_semdedup_kept(spark, url, centroids=cents, seed=42)
    assert "centroid_id" in loaded.columns  # assignment persisted, not redone

    via_disk = {
        r["vec_id"]: (r["centroid_id"], r["kept"])
        for r in semantic_dedup_against(
            new, loaded, "vec_id", "embedding", centroids=cents
        ).collect()
    }
    in_plan = {
        r["vec_id"]: (r["centroid_id"], r["kept"])
        for r in semantic_dedup_against(
            new, kept, "vec_id", "embedding", centroids=cents
        ).collect()
    }
    assert via_disk == in_plan
    # every clone dropped against its kept original; naturals survive
    assert all(kept_flag == 0 for k, (_, kept_flag) in via_disk.items() if k >= 100000)
    assert all(kept_flag == 1 for k, (_, kept_flag) in via_disk.items() if k < 100000)

    # cross-corpus ONLY: a new-vs-new duplicate pair both survive (the
    # dedup_against contract — compose with semantic_dedup for within-batch)
    twin = emb.where(F.col("vec_id") == 1).withColumn("vec_id", F.lit(200001))
    new2 = emb.where(F.col("vec_id") == 1).unionByName(twin)
    out2 = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup_against(
            new2, kept, "vec_id", "embedding", centroids=cents
        ).collect()
    }
    assert out2 == {1: 1, 200001: 1}

    # quantizer-mismatch guards: different seed, different codebook size
    with pytest.raises(ValueError, match="seed=7"):
        read_semdedup_kept(spark, url, centroids=cents, seed=7)
    with pytest.raises(ValueError, match="n_centroids=8"):
        read_semdedup_kept(spark, url, centroids=cents[:8], seed=42)
    # SAME (n_centroids, seed) but a different codebook matrix — the
    # re-sampled/retrained-quantizer case the scalar guard cannot see;
    # caught by the centroid content fingerprint (advice find)
    cents_twin = cents.copy()
    cents_twin[0, 0] += 0.5
    with pytest.raises(ValueError, match="centroid_md5"):
        read_semdedup_kept(spark, url, centroids=cents_twin, seed=42)
    # content-based, not identity-based: an equal copy of the codebook loads
    assert (
        read_semdedup_kept(spark, url, centroids=cents.copy(), seed=42).count()
        == kept.count()
    )

    # a bare table (no metadata) refuses
    import pandas as pd
    bare = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[0.0]], "centroid_id": [0]})
    )
    bare.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    with pytest.raises(ValueError, match="lacks metadata"):
        read_semdedup_kept(spark, str(tmp_path / "bare"), centroids=cents, seed=42)

    # mixed-config append refuses (the _SIG_META_COLS posture): a second
    # writer appends into the SAME partitioned layout under another seed
    write_semdedup_kept(
        kept, "vec_id", "embedding", str(tmp_path / "other"), centroids=cents, seed=7
    )
    spark.read.parquet(str(tmp_path / "other")).write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(url)
    with pytest.raises(ValueError, match="mixes configs"):
        read_semdedup_kept(spark, url, centroids=cents, seed=42)


def test_lm_catalog_entries_release_their_caches(spark):
    """q_doc_perplexity / q_perplexity_buckets materialize their bounded
    outputs and unpersist the corpus-scale tf / scored caches — repeated
    catalog runs must not accumulate executor storage (advice find).

    Asserts no NEW storage relative to a pre-run snapshot rather than zero
    total: earlier tests' localCheckpointed RDDs (e.g. the clustering loop)
    legitimately linger in RDD storage until the Python objects are GC'd
    and the async ContextCleaner runs — clearCache() does not touch them,
    so a zero-total assertion is order- and GC-timing-flaky."""
    from fsql_spark.operators.lm import q_doc_perplexity, q_perplexity_buckets

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    q_doc_perplexity(spark, SF).count()
    q_perplexity_buckets(spark, SF).count()
    leaked = [str(c) for c in jsc.getRDDStorageInfo() if c.id() not in before]
    assert not leaked, leaked


def test_perplexity_buckets_partition_the_corpus(spark):
    """head/middle/tail cover every scored doc exactly once, ordered by ce
    (max_ce(head) <= min_ce(middle) <= ... by construction), with roughly
    balanced terciles."""
    from fsql_spark.operators.lm import q_perplexity_buckets

    rows = {r["bucket"]: r for r in q_perplexity_buckets(spark, SF).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_scored = sum(r["n_docs"] for r in rows.values())
    assert n_scored == docs.count()  # testdata has no token-less docs
    assert rows["head"]["max_ce"] <= rows["middle"]["min_ce"]
    assert rows["middle"]["max_ce"] <= rows["tail"]["min_ce"]
    assert min(r["n_docs"] for r in rows.values()) >= n_scored * 0.15  # sampled terciles, rough balance


def test_rollup_merge_invariant_and_swap(spark, tmp_path):
    """Incremental rollup: (a) arbitrary disjoint batch splits converge to
    the full recompute (counts exact, sums to float ulps); (b) the stored
    table survives each swap and keeps merging."""
    from fsql_spark.operators.rollup import hourly_rollup, read_rollup, update_rollup
    from fsql_spark.relational import _t

    ev = _t(spark, SF, "events")
    url = str(tmp_path / "rollup")
    for i in range(4):
        update_rollup(spark, ev.where(F.col("event_id") % 4 == i), url)
    got = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(spark, url).collect()
    }
    want = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in hourly_rollup(ev).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]  # counts exact
        assert abs(got[k][1] - want[k][1]) < 1e-6  # sums to merge-order noise


def test_rollup_batch_id_makes_replay_idempotent(spark, tmp_path):
    """foreachBatch exactly-once enforcement: re-delivering an already-merged
    micro-batch id is a no-op (checkpoint-restart replay), a NEW id merges,
    and id-less calls keep the legacy always-merge behavior."""
    import datetime as dt

    from fsql_spark.operators.rollup import read_rollup, update_rollup

    T = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, "t", T, 1.0), (2, "t", T, 2.0)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    url = str(tmp_path / "r")

    def total():
        return sum(r["n_events"] for r in read_rollup(spark, url).collect())

    update_rollup(spark, ev, url, batch_id=0)
    assert total() == 2
    update_rollup(spark, ev, url, batch_id=0)  # replay of batch 0
    assert total() == 2  # unchanged: skipped
    update_rollup(spark, ev, url, batch_id=1)  # genuinely new batch
    assert total() == 4
    update_rollup(spark, ev, url)  # id-less ad-hoc call: merges (documented)
    assert total() == 6
    # the marker is underscore-prefixed: parquet reads ignore it, and it
    # rode the swap (still present after three rewrites)
    update_rollup(spark, ev, url, batch_id=1)  # re-delivery of LAST id: skip
    assert total() == 6
    # id BELOW the marker = id-space reset (fresh checkpoint against an
    # existing rollup): silent skip would drop new data forever — refuse
    with pytest.raises(ValueError, match="id space reset"):
        update_rollup(spark, ev, url, batch_id=0)
    assert total() == 6


def test_review_fix_regressions(spark, tmp_path):
    """Pins the round-5 review findings: fractional resample seconds,
    range_join output-name collisions, zero-variance anomaly types, and
    rollup recovery from an interrupted swap."""
    import datetime as dt

    from fsql_spark.operators.asof import range_join, resample_ffill
    from fsql_spark.operators.rollup import read_rollup, update_rollup
    from fsql_spark.fs import get_url_and_fs

    T = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 7, T, 1.0), (2, 7, T + dt.timedelta(seconds=30), 2.0)],
        "id long, user long, ts timestamp, v double",
    )
    # fractional every_seconds would truncate to a zero modulus
    with pytest.raises(ValueError, match="positive integer"):
        resample_ffill(ev, "user", "ts", "id", ["v"], 0.5)
    # suffixed restore colliding with an existing column refuses loudly
    left = ev.withColumn("v_right", F.lit(0.0))
    with pytest.raises(ValueError, match="collision"):
        range_join(left, ev, ["user"], "ts", "ts", 60_000_000)

    # zero-variance event type: excluded, not a DIVIDE_BY_ZERO job kill
    from pyspark.sql import functions as SF_
    ev2 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 100.0), (3, "a", 1.0), (4, "solo", 5.0)] +
        [(10 + i, "a", 1.0) for i in range(20)],
        "event_id long, event_type string, value double",
    )
    stats = ev2.groupBy("event_type").agg(
        SF_.avg("value").alias("mu"), SF_.stddev_pop("value").alias("sigma")
    )
    z = (SF_.col("value") - SF_.col("mu")) / SF_.col("sigma")
    out = (
        ev2.join(SF_.broadcast(stats), "event_type")
        .where(SF_.col("sigma") > 0)
        .withColumn("z", z)
        .where(SF_.col("z") >= 3.0)
        .collect()
    )
    assert all(r["event_type"] != "solo" for r in out) and len(out) == 1

    # interrupted rollup swap: table vanished mid-swap, backup survives ->
    # next update restores and keeps the history
    url = str(tmp_path / "r")
    update_rollup(spark, ev.select("ts", SF_.lit("t").alias("event_type"), "v"),
                  url, value_col="v")
    path, fs = get_url_and_fs(url)
    fs.move(path, path + ".rollup_backup_deadbeef")  # simulate the crash window
    update_rollup(spark, ev.select("ts", SF_.lit("t").alias("event_type"), "v"),
                  url, value_col="v")
    got = read_rollup(spark, url).collect()
    assert sum(r["n_events"] for r in got) == 4  # 2 restored + 2 merged, not 2


def test_banding_for_threshold_properties():
    """The advisor returns a valid factorization whose S-curve knee is the
    closest achievable to the target, monotone in the expected direction."""
    from fsql_spark.operators.dedup import banding_for_threshold

    for nh in (16, 32, 64, 128):
        for t in (0.1, 0.3, 0.5, 0.7, 0.8, 0.9, 0.95):
            b, r = banding_for_threshold(t, nh)
            assert b * r == nh
            knee = (1 / b) ** (1 / r)
            # no other divisor split lands closer
            for b2 in range(1, nh + 1):
                if nh % b2 == 0:
                    assert abs(knee - t) <= abs((1 / b2) ** (1 / (nh // b2)) - t) + 1e-12
    # the advisor reproduces exact-knee configs: (1/16)^(1/4) == 0.5
    assert banding_for_threshold(0.5, 64) == (16, 4)
    assert banding_for_threshold(0.5, 64)[0] >= banding_for_threshold(0.95, 64)[0]
    with pytest.raises(ValueError):
        banding_for_threshold(1.5, 64)
    with pytest.raises(ValueError):
        banding_for_threshold(0.5, 1)


def test_stateless_lm_scorer_matches_distributed(spark):
    """The streaming-safe kernel scorer and the distributed groupBy scorer
    are two implementations of the same definition — exact agreement on
    counts, float agreement on cross-entropy (token-order vs shuffle-order
    summation)."""
    from fsql_spark.operators.lm import (
        doc_cross_entropy,
        doc_cross_entropy_stateless,
        unigram_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    model, oov, _, _ = unigram_model(docs, top_k=30)
    logprobs = {r["token"]: r["logprob"] for r in model.collect()}
    a = {r["doc_id"]: r for r in doc_cross_entropy(docs, model, oov).collect()}
    b = {r["doc_id"]: r for r in doc_cross_entropy_stateless(docs, logprobs, oov).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k]["n_tokens"] == b[k]["n_tokens"]
        assert a[k]["n_oov"] == b[k]["n_oov"]
        assert abs(a[k]["cross_entropy"] - b[k]["cross_entropy"]) < 1e-12


def _stage_documents(spark, tmp_path, rows):
    """Stage a handcrafted corpus as an sf-dir-shaped documents.parquet
    (pytest-managed dir, auto-cleaned) for operators that read by sf dir."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_fvid_container_roundtrip_and_corruption(spark, tmp_path):
    """The synthetic container is a REAL binary format: parse recovers
    exactly the frames synth wrote (incl. the padded final frame and the
    one-frame empty doc), corrupt payloads fail loudly with the media id,
    and a stride of 1 returns every frame."""
    import hashlib
    import struct

    from fsql_spark.operators.multimodal import (
        VIDEO_MAGIC,
        documents_as_video,
        sample_container_frames,
    )

    d = _stage_documents(spark, tmp_path, [(0, ""), (1, "x" * 32), (2, "y" * 33)])
    media = documents_as_video(spark, d)

    out = {(r["media_id"], r["frame_idx"]): r["frame_fp"]
           for r in sample_container_frames(media, every=1).collect()}
    assert out[(0, 0)] == hashlib.md5(b"." * 32).hexdigest()       # empty doc: 1 pad frame
    assert out[(1, 0)] == hashlib.md5(b"x" * 32).hexdigest()       # exact fit: 1 frame
    assert (1, 1) not in out
    assert out[(2, 1)] == hashlib.md5(b"y" + b"." * 31).hexdigest()  # padded tail

    with pytest.raises(ValueError, match="every"):
        sample_container_frames(media, every=0)
    with pytest.raises(ValueError, match="frame_size"):
        documents_as_video(spark, d, frame_size=0)
    bad = media.withColumn("content", F.lit(b"NOTFVID"))
    with pytest.raises(Exception, match="FVID"):
        sample_container_frames(bad, every=1).collect()
    # frame_size 0 in the HEADER satisfies the length check for any n —
    # must refuse, not fabricate 2^32 empty-frame rows (review find)
    zero_fs = media.withColumn(
        "content", F.lit(VIDEO_MAGIC + struct.pack(">II", 0, 0xFFFFFFFF))
    )
    with pytest.raises(Exception, match="corrupt FVID"):
        sample_container_frames(zero_fs, every=1).collect()


def test_faud_audio_energy_matches_python(spark, tmp_path):
    """Windowed energy vs a pure-Python model: partial final window,
    single-sample doc, empty doc (no rows), corruption refused."""
    from fsql_spark.operators.multimodal import audio_window_energy, documents_as_audio

    rows = [(0, ""), (1, "A"), (2, "ab" * 40)]  # 80 chars -> windows 64 + 16
    d = _stage_documents(spark, tmp_path, rows)
    media = documents_as_audio(spark, d)
    got = {(r["media_id"], r["window_idx"]): (r["n_samples"], r["energy"])
           for r in audio_window_energy(media, window=64).collect()}

    def model(text):
        vals = [b - 128 for b in text.encode()]
        out = {}
        for i in range(0, len(vals), 64):
            w = vals[i : i + 64]
            out[i // 64] = (len(w), sum(v * v for v in w))
        return out

    assert not any(k[0] == 0 for k in got)  # empty doc: no windows
    for doc_id, text in rows[1:]:
        for widx, expect in model(text).items():
            assert got[(doc_id, widx)] == expect
    assert got[(2, 1)][0] == 16  # partial final window

    with pytest.raises(ValueError, match="window"):
        audio_window_energy(media, window=0)
    bad = media.withColumn("content", F.lit(b"NOTFAUD"))
    with pytest.raises(Exception, match="FAUD"):
        audio_window_energy(bad).collect()


def test_vocab_edit_distance_pairs_exact_and_complete(spark):
    import pandas as pd

    from fsql_spark.operators.vocab import vocab_edit_distance_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [
            "cat cut cart chart dog dig dogs",
            "cat banana bananas",
        ]})
    )
    out = {
        (r["token_a"], r["token_b"]): r["dist"]
        for r in vocab_edit_distance_pairs(docs, "text", max_distance=1).collect()
    }
    # d=1 ground truth over the 9-token vocab, each unordered pair once,
    # shorter-first (lex on equal length)
    assert out == {
        ("cat", "cut"): 1,
        ("cat", "cart"): 1,   # len-diff-1: shorter token first
        ("cart", "chart"): 1,
        ("dig", "dog"): 1,
        ("dog", "dogs"): 1,
        ("banana", "bananas"): 1,
    }


def test_bpe_learn_merges_guards(spark):
    import pandas as pd
    import pytest as _pytest

    from fsql_spark.operators.bpe import bpe_learn_merges, bpe_pair_stats

    docs = spark.createDataFrame(pd.DataFrame({"text": ["aa ab aa", "ab aa"]}))
    with _pytest.raises(ValueError, match="num_merges"):
        bpe_learn_merges(docs, num_merges=0)
    with _pytest.raises(ValueError, match="max_words"):
        bpe_learn_merges(docs, num_merges=1, max_words=1)
    with _pytest.raises(ValueError, match="top_k"):
        bpe_pair_stats(docs, top_k=0)
    # 'aa' x3, 'ab' x2 -> pair (a,a)=3 beats (a,b)=2
    m = bpe_learn_merges(docs, num_merges=2).orderBy("rank").collect()
    assert (m[0]["left"], m[0]["right"], m[0]["pair_n"]) == ("a", "a", 3)
    assert m[1]["merged"] in ("ab", "aab", "aaa") or m[1]["pair_n"] <= 3


def test_prefix_filter_pairs_threshold_validation(spark):
    """threshold outside (0, 1] is a caller bug: >1 would make the prefix
    slice length non-positive (opaque runtime error), <=0 would silently
    degenerate to the full quadratic join — both rejected up front."""
    import pandas as pd
    import pytest as _pytest

    from fsql_spark.operators import prefix_filter_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "a b d"]})
    )
    for bad in (0.0, -0.5, 1.5):
        with _pytest.raises(ValueError, match="threshold must be in"):
            prefix_filter_pairs(docs, "doc_id", "text", bad)


def test_shuffle_width_tolerates_non_numeric_conf(spark):
    """Managed deployments set spark.sql.shuffle.partitions to 'auto'
    (OSS Spark refuses the value at conf.set, so the fallback is exercised
    through a stub session); shuffle_width must fall back to
    defaultParallelism, not raise."""
    from types import SimpleNamespace

    from fsql_spark.session import shuffle_width

    assert shuffle_width(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    auto = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "auto"),
        sparkContext=SimpleNamespace(defaultParallelism=7),
    )
    assert shuffle_width(auto) == 7


def test_dsir_scores_and_gumbel_semantics(spark):
    """DSIR log-ratio scores: docs made of target-only vocabulary score
    higher than docs of raw-only vocabulary; empty target refuses; the
    Gumbel resample is deterministic and without replacement."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fsql_spark.operators.dsir import (
        dsir_logratio_scores,
        gumbel_topk,
    )

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": ["alpha beta alpha beta", "alpha beta gamma",
                 "delta epsilon zeta", "delta zeta delta",
                 "alpha beta", "epsilon delta"],
        "lang": ["en", "en", "fr", "fr", "fr", "fr"],
    }))
    scores = dsir_logratio_scores(docs, "doc_id", "text",
                                  F.col("lang") == "en", n_buckets=64)
    got = {r["doc_id"]: r["llr"] for r in scores.collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    # doc 5 is pure target vocabulary, doc 3/4/6 pure non-target: the
    # target model must prefer 5
    assert got[5] > got[3] and got[5] > got[4] and got[5] > got[6]

    picked = gumbel_topk(scores, "doc_id", "llr", k=3)
    ids = [r["doc_id"] for r in picked.collect()]
    assert len(ids) == len(set(ids)) == 3
    # deterministic: same seed, same draw
    again = [r["doc_id"] for r in gumbel_topk(scores, "doc_id", "llr", k=3).collect()]
    assert sorted(ids) == sorted(again)

    with _pytest.raises(ValueError, match="n_buckets"):
        dsir_logratio_scores(docs, "doc_id", "text", F.col("lang") == "en", n_buckets=1)
    with _pytest.raises(ValueError, match="no grams"):
        dsir_logratio_scores(docs, "doc_id", "text", F.lit(False)).collect()
    with _pytest.raises(ValueError, match="k must be"):
        gumbel_topk(scores, "doc_id", "llr", k=0)


def test_dsir_selection_upsamples_target(spark):
    """On the driver corpus, resampling toward lang='en' must pick en docs
    at well above the corpus base rate — the method's whole point."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    base_rate = docs.where("lang = 'en'").count() / docs.count()
    picked = e.queries()["q_dsir_selection"](spark, sf).collect()
    en_rate = sum(1 for r in picked if r["lang"] == "en") / len(picked)
    assert en_rate > base_rate * 1.5, (en_rate, base_rate)


def test_bpe_apply_oracle_survives_merge_dry_out(spark, tmp_path):
    """Corpus with fewer learnable merges than the fixed 15-merge budget:
    the apply/pack oracle's per-round CTEs must pass words through dry
    rounds unchanged (LEFT JOIN + COALESCE) instead of emptying tokcounts
    via a cross join with the empty argmax row, so oracle == engine on
    low-entropy corpora. ADVICE r11."""
    import duckdb
    import pandas as pd

    from fsql_spark.operators.bpe import (
        Q_BPE_TOKENIZED_LENGTHS_SQL,
        q_bpe_tokenized_lengths,
    )

    # vocab {ab, a, b}: round 1 merges (a,b); after that every word is a
    # single token -> no pairs -> rounds 2..15 run dry.
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["ab ab a", "b ab", "a a b"],
         "lang": ["en", "en", "fr"]}
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    got = {
        (r["doc_id"], r["n_words"], r["n_tokens"], r["n_chars"])
        for r in q_bpe_tokenized_lengths(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
        )
        want = {tuple(r) for r in con.execute(Q_BPE_TOKENIZED_LENGTHS_SQL).fetchall()}
    finally:
        con.close()
    assert want, "oracle returned zero rows on a dry-out corpus"
    assert got == want
    # merge (a,b) applied: "ab ab a" -> tokens [ab, ab, a] = 3
    assert (1, 3, 3, 5) in got


def test_bpe_apply_merges_matches_python_tokenizer(spark):
    """The chained-replace distributed apply equals the per-word Python
    apply loop (same merge list, rank order, non-overlapping rule)."""
    import pandas as pd

    from fsql_spark.operators.bpe import _apply_merge, bpe_apply_merges

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["the theme thesis", "aaa aa a", "", "th aaaa the"],
    }))
    merges = [("t", "h"), ("a", "a"), ("th", "e"), ("aa", "aa")]

    def tokenize(word):
        toks = list(word)
        for left, right in merges:
            toks = _apply_merge(toks, (left, right), left + right)
        return toks

    got = {r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"])
           for r in bpe_apply_merges(docs, merges).collect()}
    want = {}
    for doc_id, text in [(1, "the theme thesis"), (2, "aaa aa a"), (4, "th aaaa the")]:
        ws = [w for w in text.split(" ") if w]
        want[doc_id] = (len(ws), sum(len(tokenize(w)) for w in ws),
                        sum(len(w) for w in ws))
    assert got == want  # doc 3 (empty) absent from both


def test_bpe_apply_vocab_path_equals_replace_chain(spark):
    """The r15 single-scan apply (driver-tokenized vocab + shared word
    stream) must equal the chained-replace path row for row — the two
    formulations of the same tokenizer cannot drift."""
    import pandas as pd

    from pyspark.sql import functions as F

    from fsql_spark.operators.bpe import bpe_apply_merges

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["the theme thesis", "aaa aa a", "", "th aaaa the", "x  y"],
    }))
    merges = [("t", "h"), ("a", "a"), ("th", "e"), ("aa", "aa")]
    base = {tuple(r) for r in bpe_apply_merges(docs, merges).collect()}
    stream = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
        ).alias("word"),
    ).persist()
    vocab = [r["word"] for r in stream.select("word").distinct().collect()]
    fast = {
        tuple(r)
        for r in bpe_apply_merges(
            docs, merges, vocab=vocab, words_stream=stream
        ).collect()
    }
    stream.unpersist()
    assert fast == base


def test_dsir_stateless_equals_batch_scorer(spark):
    """The closure-model kernel scorer (streaming face) must produce the
    SAME per-doc (n_grams, llr) as the batch broadcast-join scorer — the
    batch/stream unification contract for entry #192."""
    from pyspark.sql import functions as F

    from fsql_spark.operators.dsir import (
        dsir_fit,
        dsir_logratio_scores,
        dsir_score_stateless,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    batch = {
        r["doc_id"]: (r["n_grams"], round(r["llr"], 9))
        for r in dsir_logratio_scores(
            docs, "doc_id", "text", F.col("lang") == "en", n_buckets=256
        ).collect()
    }
    rows = dsir_fit(docs, "text", F.col("lang") == "en", n_buckets=256)
    stateless = {
        r["doc_id"]: (r["n_grams"], round(r["llr"], 9))
        for r in dsir_score_stateless(docs, rows, n_buckets=256).collect()
    }
    assert batch == stateless


def test_dsir_unseen_bucket_scores_smoothing_ratio(spark):
    """Fit-offline / score-new-corpus (the streaming crawl-selection use
    case): grams hashing to buckets unseen in the fit corpus must count in
    n_grams AND contribute the smoothing-only log-ratio
    ln((r_total+B)/(t_total+B)) — not be dropped (old batch join) or
    zero-weighted (old stateless kernel). ADVICE r11 medium."""
    import hashlib
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from fsql_spark.operators.dsir import dsir_fit, dsir_score_stateless

    B = 64
    fit = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["aa bb aa", "cc dd"], "lang": ["en", "fr"]}
        )
    )
    rows = dsir_fit(fit, "text", F.col("lang") == "en", n_buckets=B)
    assert len(rows) == B  # full coverage, unseen buckets included

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    fit_grams = ["aa", "bb", "aa", "aa bb", "bb aa", "cc", "dd", "cc dd"]
    tgt_grams = fit_grams[:5]
    r_total, t_total = len(fit_grams), len(tgt_grams)
    seen_buckets = {bucket(g) for g in fit_grams}
    default_lr = math.log(r_total + B) - math.log(t_total + B)

    # find a gram whose bucket the fit corpus never touched
    novel = next(
        w for w in ("zebra", "quux", "novelgram", "xyzzy", "plugh")
        if bucket(w) not in seen_buckets
    )
    lr_by_bucket = {int(r["__bucket"]): float(r["__lr"]) for r in rows}
    assert lr_by_bucket[bucket(novel)] == pytest.approx(default_lr)

    new = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": [novel]}))
    out = dsir_score_stateless(new, rows, n_buckets=B).collect()
    assert len(out) == 1
    assert out[0]["n_grams"] == 1
    assert out[0]["llr"] == pytest.approx(default_lr)

    # a partial model (the pre-fix silent-zero shape) is refused loudly
    with pytest.raises(ValueError, match="partial DSIR model"):
        dsir_score_stateless(new, rows[: B - 1], n_buckets=B)

    # a duplicate-__bucket model passes the length check but leaves one
    # slot unfilled — pre-fix that slot was np.empty garbage, yielding
    # nondeterministic llr (ADVICE r12); now refused loudly
    dup = rows[: B - 1] + [rows[0]]
    assert len(dup) == B
    with pytest.raises(ValueError, match="malformed DSIR model"):
        dsir_score_stateless(new, dup, n_buckets=B)


def test_hard_negative_topk_matches_numpy(spark):
    """Label-masked brute-force mining equals a full numpy reference:
    same-label vectors never appear, ranks follow (cosine desc, id asc)."""
    import numpy as np
    import pandas as pd

    from fsql_spark.operators.similarity import hard_negative_topk

    rng = [(i, [float(((i * 37 + d * 11) % 19) - 9) for d in range(8)], i % 3)
           for i in range(40)]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rng],
                      "embedding": [r[1] for r in rng],
                      "label": [r[2] for r in rng]})
    )
    got = {(r["anchor_id"], r["rank"]): r["negative_id"]
           for r in hard_negative_topk(emb, emb.where("vec_id < 5"),
                                       "vec_id", "embedding", "label", k=4).collect()}

    mat = np.array([r[1] for r in rng], dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    labels = np.array([r[2] for r in rng])
    want = {}
    for a in range(5):
        cand = [(float(-(mat[a] @ mat[b])), b) for b in range(40) if labels[b] != labels[a]]
        cand.sort()
        for rank, (_, b) in enumerate(cand[:4], 1):
            want[(a, rank)] = b
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        hard_negative_topk(emb, emb, "vec_id", "embedding", "label", k=0)


def test_hard_negative_ivf_full_probe_matches_brute(spark):
    """The IVF scale path at FULL probe (candidate set = whole corpus) must
    return the same (anchor, negative) assignments as the exact brute
    kernel, and never leak a same-label candidate at partial probe."""
    import pandas as pd

    from fsql_spark.operators.similarity import (
        hard_negative_topk,
        hard_negative_topk_ivf,
    )

    rng = [(i, [float(((i * 37 + d * 11) % 19) - 9) for d in range(8)], i % 3)
           for i in range(60)]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rng],
                      "embedding": [r[1] for r in rng],
                      "label": [r[2] for r in rng]})
    )
    anchors = emb.where("vec_id < 4")
    brute = {(r["anchor_id"], r["rank"]): r["negative_id"]
             for r in hard_negative_topk(emb, anchors, "vec_id", "embedding",
                                         "label", k=3).collect()}
    full = hard_negative_topk_ivf(emb, anchors, "vec_id", "embedding", "label",
                                  k=3, n_centroids=4, n_probe=4).collect()
    ivf = {(r["anchor_id"], r["rank"]): r["negative_id"] for r in full}
    assert ivf == brute

    partial = hard_negative_topk_ivf(emb, anchors, "vec_id", "embedding", "label",
                                     k=3, n_centroids=4, n_probe=2).collect()
    labels = {r[0]: r[2] for r in rng}
    assert partial and all(
        labels[r["negative_id"]] != labels[r["anchor_id"]] for r in partial
    )


def test_bpe_merges_write_read_roundtrip(spark, tmp_path):
    """The persisted merge table (the shipped tokenizer artifact) round
    trips exactly, and the reader refuses empty/tampered/appended forms."""
    import pandas as pd
    import pytest as _pytest

    from fsql_spark.operators.bpe import (
        bpe_apply_merges,
        bpe_learn_merges,
        read_bpe_merges,
        write_bpe_merges,
    )

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": ["the theme thesis the", "aaa the aa the"],
    }))
    learned = bpe_learn_merges(docs, num_merges=4)
    url = str(tmp_path / "merges.parquet")
    write_bpe_merges(learned, url)
    merges = read_bpe_merges(spark, url)
    want = [(r["left"], r["right"]) for r in learned.orderBy("rank").collect()]
    assert merges == want

    # the round-tripped artifact drives the apply identically
    a = {r["doc_id"]: (r["n_tokens"], r["n_chars"])
         for r in bpe_apply_merges(docs, merges).collect()}
    b = {r["doc_id"]: (r["n_tokens"], r["n_chars"])
         for r in bpe_apply_merges(docs, want).collect()}
    assert a == b

    with _pytest.raises(ValueError, match="empty"):
        write_bpe_merges(learned.where("rank > 99"), str(tmp_path / "e.parquet"))

    # append with the same config -> row-count mismatch refusal
    from fsql_spark.api import write_table
    extra = learned.limit(1).withColumn("__n_merges", F.lit(4)).withColumn("__bpe_fmt", F.lit(1))
    write_table(extra, url, mode="append")
    with _pytest.raises(ValueError, match="appended"):
        read_bpe_merges(spark, url)


def test_duplicated_spans_coverage_equals_bruteforce_ge_k(spark):
    """The ExactSubstr recall guarantee, quantified against a brute force
    that never looks at k-grams (VERDICT r12 task 6): the characters
    covered by duplicated_spans' reported spans are EXACTLY the characters
    lying inside some occurrence of a substring of length >= k that
    appears >= 2 times in the corpus.

    Why equality holds (the k<->L relation): any duplicated substring
    occurrence of length L >= k contains L-k+1 k-windows, each itself
    duplicated, so its every character sits in a flagged window and the
    gaps-and-islands merge (new island only when the gap exceeds k) keeps
    the union contiguous — recall 1.0 down to the L=k floor. Conversely a
    flagged window IS a duplicated substring of length exactly k, so no
    reported character lies outside the brute-force set — char-precision
    1.0. Duplicates shorter than k are invisible BY CONSTRUCTION (Lee et
    al. 2022 carry the same floor; k is the knob), pinned here by a
    planted (k-1)-length duplicate that must not be reported."""
    import random

    import pandas as pd

    from fsql_spark.operators.spans import duplicated_spans

    k = 12
    rng = random.Random(13)
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def rand(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    boiler = rand(30)          # length 30 > k: must be fully covered in both docs
    exact_k = rand(k)          # length exactly k: the floor case, reported
    short = rand(k - 1)        # length k-1: invisible by construction
    texts = {
        1: rand(40) + boiler + rand(25) + exact_k + rand(40),
        2: rand(35) + boiler + rand(50) + short + rand(30),
        3: rand(20) + exact_k + rand(30) + short + rand(45),
        4: rand(120),          # no planted duplicates
    }
    # guard the construction: the planted short string occurs twice, the
    # random filler produced no accidental k-gram collisions beyond plants
    corpus = "".join(texts.values())
    assert corpus.count(short) == 2 and corpus.count(exact_k) == 2

    # brute force, no k-grams: every (doc, char) covered by an occurrence
    # of ANY substring of length >= k appearing >= 2 times corpus-wide
    # (occurrences counted across docs AND within a doc)
    from collections import Counter

    def occurrences(s):
        occ = []
        for d, t in texts.items():
            start = t.find(s)
            while start != -1:
                occ.append((d, start))
                start = t.find(s, start + 1)
        return occ

    brute = {d: set() for d in texts}
    seen_sub = set()
    for d, t in texts.items():
        for L in range(k, len(t) + 1):
            for i in range(len(t) - L + 1):
                s = t[i : i + L]
                if s in seen_sub:
                    continue
                seen_sub.add(s)
                occ = occurrences(s)
                if len(occ) >= 2:
                    for dd, ss in occ:
                        brute[dd].update(range(ss, ss + L))

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": [texts[d] for d in texts]})
    )
    spans = duplicated_spans(df, k=k).collect()
    engine = {d: set() for d in texts}
    for r in spans:
        # span_start is 1-based
        engine[r["doc_id"]].update(
            range(r["span_start"] - 1, r["span_start"] - 1 + r["span_chars"])
        )

    assert engine == brute  # exact char-coverage equality, every doc

    # the planted cases, explicitly: the 30-char and k-char duplicates are
    # fully covered; the (k-1)-char duplicate is reported in NO doc
    for d, t in texts.items():
        i = t.find(boiler)
        if i != -1:
            assert set(range(i, i + len(boiler))) <= engine[d]
        i = t.find(exact_k)
        if i != -1:
            assert set(range(i, i + k)) <= engine[d]
        i = t.find(short)
        if i != -1:
            assert not (set(range(i, i + k - 1)) & engine[d])


def test_spans_footer_probe_fallbacks(spark, tmp_path):
    """_footer_total_chars: exact-grade estimate on a bare local parquet
    scan; None (-> exact-scan fallback) on in-memory inputs and on plans
    containing shuffling operators; the width formula floors at the
    session shuffle width either way."""
    import pandas as pd

    from fsql_spark.operators.spans import (
        _footer_total_chars,
        _gram_exchange_width,
    )
    from fsql_spark.session import shuffle_width

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["ab" * 30, "xyz" * 10, "q" * 7]})
    path = str(tmp_path / "d.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    scan = spark.read.parquet(path).select("doc_id", "text")
    truth = int(pdf["text"].str.len().sum())
    est = _footer_total_chars(scan, "text")
    # page/dictionary framing dominates a 3-row file (~90 bytes); it
    # amortizes at corpus scale (measured ratio 1.000 at sf1/sf10 —
    # PERF.md r11), so the tiny-file contract is order-of-magnitude only
    assert est is not None and truth <= est <= truth + 256

    mem = spark.createDataFrame(pdf)
    assert _footer_total_chars(mem, "text") is None  # no input files
    agg = scan.groupBy("doc_id").agg(F.first("text").alias("text"))
    assert _footer_total_chars(agg, "text") is None  # shuffling plan
    assert _footer_total_chars(scan, "nope") is None  # missing column

    # tiny corpus floors at the session width on BOTH probe paths
    assert _gram_exchange_width(scan, "text", 40) == shuffle_width(spark)
    assert _gram_exchange_width(mem, "text", 40) == shuffle_width(spark)


def test_spans_footer_probe_calibrates_dictionary_chunks(spark, tmp_path):
    """Repetitive corpora get dictionary-encoded text chunks whose footer
    uncompressed size is the RLE index + one dict page — orders of
    magnitude under the real character count (ADVICE r11: the undercount
    would undersize the gram exchange back into the sort-spill cliff).
    The probe must detect the dictionary page and calibrate from a
    one-row-group sample read instead of trusting the footer arithmetic."""
    import pandas as pd
    import pyarrow.parquet as pq

    from fsql_spark.operators.spans import _footer_total_chars

    # one distinct value x 5000 rows -> data pages stay dictionary-encoded
    texts = ["the quick brown fox jumps over the lazy dog " * 20] * 5000
    pdf = pd.DataFrame({"doc_id": range(5000), "text": texts})
    path = str(tmp_path / "rep.parquet")
    pdf.to_parquet(path)  # pyarrow writer: use_dictionary=True default

    meta = pq.ParquetFile(path).metadata
    names = [meta.schema.column(i).name for i in range(len(meta.schema))]
    chunk = meta.row_group(0).column(names.index("text"))
    assert chunk.dictionary_page_offset is not None  # scenario is real
    naive = max(chunk.total_uncompressed_size - 4 * meta.row_group(0).num_rows, 0)
    truth = int(pdf["text"].str.len().sum())
    assert naive < truth / 100  # the pre-fix estimate was catastrophic

    scan = spark.read.parquet(path).select("doc_id", "text")
    est = _footer_total_chars(scan, "text")
    assert est is not None
    assert truth * 0.5 <= est <= truth * 2  # decade-grade, not footer-degenerate


def test_spans_footer_probe_calibrates_mixed_regime_row_groups(spark, tmp_path):
    """ADVICE r12: one file can mix an effectively-PLAIN row group (unique
    strings; the dictionary attempt fell back, so the chunk still carries a
    dict page and the RLE_DICTIONARY flag) with a genuinely dict-encoded
    one (repeated strings, footer est ~0). Calibrating the whole file from
    row group 0 measures ratio ~1 and keeps the second group's
    orders-of-magnitude undercount; the probe must scale each encoding
    regime by its own sampled ratio."""
    import random
    import string

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fsql_spark.operators.spans import _footer_total_chars

    random.seed(7)
    uniq = [
        "".join(random.choices(string.ascii_letters + string.digits, k=80))
        for _ in range(3000)
    ]
    rep = ["the quick brown fox jumps over the lazy dog " * 20] * 3000
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    path = str(tmp_path / "mixed.parquet")
    # tiny dictionary page limit forces the unique row group to fall back
    # to PLAIN data pages while keeping its (partial) dictionary page
    w = pq.ParquetWriter(path, schema, dictionary_pagesize_limit=4096)
    w.write_table(
        pa.table({"doc_id": list(range(3000)), "text": uniq}, schema=schema),
        row_group_size=3000,
    )
    w.write_table(
        pa.table({"doc_id": list(range(3000, 6000)), "text": rep}, schema=schema),
        row_group_size=3000,
    )
    w.close()

    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups == 2
    names = [meta.schema.column(i).name for i in range(len(meta.schema))]
    ci = names.index("text")
    # the scenario is real: BOTH chunks carry a dict page, so the page
    # flag alone cannot tell the PLAIN-fallback group from the dict one
    assert all(
        meta.row_group(rg).column(ci).dictionary_page_offset is not None
        for rg in range(2)
    )
    est0 = meta.row_group(0).column(ci).total_uncompressed_size
    est1 = meta.row_group(1).column(ci).total_uncompressed_size
    assert est0 > 50 * est1  # regimes genuinely differ by decades

    truth = sum(len(t) for t in uniq) + sum(len(t) for t in rep)
    scan = spark.read.parquet(path).select("doc_id", "text")
    est = _footer_total_chars(scan, "text")
    assert est is not None
    # single-decade-regime buckets with one row group each -> near-exact
    assert truth * 0.9 <= est <= truth * 1.1, (est, truth)


def test_corpus_pipeline_v3_selects_toward_target(spark):
    """The composed gate->dedup->DSIR-select chain must (a) pick only docs
    that pass the quality gate, and (b) overrepresent the en target vs its
    share of the gated pool."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    from fsql_spark.operators.pipeline import build_corpus_dsir_selected
    from fsql_spark.operators.text import quality_filter

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    picked = build_corpus_dsir_selected(docs, n_select=50).collect()
    assert len(picked) == 50
    gated = quality_filter(docs).where("passes")
    base = gated.where("lang = 'en'").count() / gated.count()
    en = sum(1 for r in picked if r["lang"] == "en") / len(picked)
    assert en > base * 1.3, (en, base)
    # gate actually applied: every picked doc passes the rules
    gated_ids = {r["doc_id"] for r in gated.select("doc_id").collect()}
    assert all(r["doc_id"] in gated_ids for r in picked)


def test_catalog_registry_has_no_collisions():
    """Every registry source contributes disjoint keys end-to-end: the
    __spark_entry__ catalog size equals the sum of its parts, and the
    operators-level merge refuses duplicates at import (the silent-shadow
    bug class that briefly cost the catalog an entry in round 11)."""
    import __spark_entry__ as e
    from fsql_spark.fsql_catalog import FSQL_QUERIES
    from fsql_spark.operators import EXTENSION_QUERIES, _merge_disjoint
    from fsql_spark.relational import RELATIONAL_QUERIES
    from fsql_spark.sql import SQL_QUERIES
    from fsql_spark.streaming import STREAMING_QUERIES

    parts = [RELATIONAL_QUERIES, SQL_QUERIES, FSQL_QUERIES,
             EXTENSION_QUERIES, STREAMING_QUERIES]
    assert len(e.queries()) == sum(len(p) for p in parts)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collision"):
        _merge_disjoint({"a": 1}, {"a": 2})


def test_augment_images_matches_numpy(spark):
    """Each geometric op's re-encoded pixels equal the numpy transform of
    the decoded source; position checksums distinguish orientations."""
    import numpy as np
    import pandas as pd

    from fsql_spark.operators.codecs import encode_png
    from fsql_spark.operators.multimodal import (
        augment_images,
        decode_image,
        image_position_checksums,
    )

    arr = (np.arange(7 * 5, dtype=np.uint8) * 3 % 251).reshape(7, 5)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "content": [encode_png(arr, filters="none")]})
    )
    aug = augment_images(media)
    got = {r["op"]: decode_image(bytes(r["content"])) for r in aug.collect()}
    np.testing.assert_array_equal(got["hflip"], arr[:, ::-1])
    np.testing.assert_array_equal(got["vflip"], arr[::-1])
    np.testing.assert_array_equal(got["rot180"], arr[::-1, ::-1])
    np.testing.assert_array_equal(got["center_crop"], arr[2:5, 1:3])

    sums = {r["op"]: r["pos_checksum"]
            for r in image_position_checksums(aug, carry_cols=("op",)).collect()}
    assert len(set(sums.values())) == 4  # orientation-sensitive audit

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ops must be"):
        augment_images(media, ops=("sepia",))


def test_augment_audio_matches_numpy(spark):
    """Each audio op's re-encoded samples equal the numpy transform;
    gain_half is an arithmetic shift (floor) on NEGATIVE samples too."""
    import numpy as np
    import pandas as pd

    from fsql_spark.operators.codecs import encode_wav
    from fsql_spark.operators.multimodal import augment_audio, decode_audio

    s = np.array([-32768, -3, -1, 0, 1, 5, 32767, -255], dtype=np.int16)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "content": [encode_wav(s, 8000)]})
    )
    got = {r["op"]: decode_audio(bytes(r["content"]))[1]
           for r in augment_audio(media).collect()}
    np.testing.assert_array_equal(got["reverse"], s[::-1])
    np.testing.assert_array_equal(got["trim_half"], s[:4])
    np.testing.assert_array_equal(got["gain_half"], s >> 1)
    assert (s >> 1)[1] == -2  # floor, not truncation: -3 >> 1 == -2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ops must be"):
        augment_audio(media, ops=("echo",))


def test_augment_video_matches_numpy(spark):
    """Temporal ops equal the numpy frame-tensor slicing (chroma rides
    along); time checksums distinguish orderings."""
    import numpy as np
    import pandas as pd

    from fsql_spark.operators.multimodal import augment_video, video_time_checksums
    from fsql_spark.operators.video import decode_y4m, encode_y4m

    y = (np.arange(5 * 4 * 4, dtype=np.uint8)).reshape(5, 4, 4)
    u = (np.arange(5 * 2 * 2, dtype=np.uint8)).reshape(5, 2, 2)
    v = u[::-1].copy().reshape(5, 2, 2)
    media = spark.createDataFrame(pd.DataFrame(
        {"media_id": [1], "content": [encode_y4m(y, fps=(25, 1), u=u, v=v)]}
    ))
    aug = augment_video(media)
    got = {r["op"]: decode_y4m(bytes(r["content"])) for r in aug.collect()}
    np.testing.assert_array_equal(got["reverse"]["y"], y[::-1])
    np.testing.assert_array_equal(got["reverse"]["u"], u[::-1])
    np.testing.assert_array_equal(got["stride2"]["y"], y[::2])
    np.testing.assert_array_equal(got["trim_half"]["y"], y[:3])

    sums = {r["op"]: r["time_checksum"]
            for r in video_time_checksums(aug, carry_cols=("op",)).collect()}
    assert len(set(sums.values())) == 3

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ops must be"):
        augment_video(media, ops=("slowmo",))


def test_video_augment_fused_equals_composed(spark):
    """The fused single-kernel entry path equals pack -> augment_video ->
    video_time_checksums composed across Arrow (the memory-posture
    equivalence contract)."""
    from fsql_spark.operators.multimodal import (
        augment_video,
        pack_y4m,
        video_augment_checksums_fused,
        video_time_checksums,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    fused = {(r["media_id"], r["op"]): (r["n_frames"], r["time_checksum"])
             for r in video_augment_checksums_fused(docs).collect()}
    composed = {
        (r["media_id"], r["op"]): (r["n_frames"], r["time_checksum"])
        for r in video_time_checksums(
            augment_video(pack_y4m(docs, frame_w=8, frame_h=8)),
            carry_cols=("op",),
        ).collect()
    }
    assert fused and fused == composed


def test_semdedup_cluster_kernel_tiling_and_edges():
    """The tiled-GEMM dominance kernel (r12 semdedup rewrite) must be
    tile-size invariant and honor the oracle's edge semantics: strictly
    smaller keys dominate (equal keys never drop each other), zero-norm
    vectors neither dominate nor get dropped (NULL-cosine semantics)."""
    import pandas as pd

    from fsql_spark.operators.similarity import _cluster_dropped_keys

    pdf = pd.DataFrame({
        "k": [5, 1, 1, 2, 3, 4, 6, 7],
        "v": [
            [1.0, 0.0],       # 5: dominated by 1 (identical direction)
            [1.0, 0.0],       # 1 (first copy)
            [1.0, 0.0],       # 1 (duplicate key: must NOT drop its twin)
            [1.0, 0.0005],    # 2: cos vs 1 ~ 1.0 -> dropped
            [0.0, 0.0],       # 3: zero norm -> kept
            [0.0, 1.0],       # 4: orthogonal -> kept
            [-1.0, 0.0],      # 6: opposite -> kept
            [1.0, 0.0],       # 7: dominated
        ],
    })
    want = {2, 5, 7}
    for tile in (2, 3, 4096):
        got = set(_cluster_dropped_keys(0.95, tile=tile)(pdf.copy())["dk"])
        assert got == want, (tile, got)


def test_paragraph_dedup_plans_agree_and_newline_boundary(spark):
    """r14 skew A/B support: the window and agg+join formulations are the
    SAME operator (value-identical on a real corpus); the newline boundary
    splits on \\n, rebuilds with \\n, skips empty lines, and refuses an
    unknown boundary."""
    import pandas as pd
    import pytest

    from pyspark.sql import functions as F

    from fsql_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {
        r["doc_id"]: (r["n_paras"], r["n_dropped"], r["text"])
        for r in paragraph_dedup(
            docs, "doc_id", "text", para_words=15, _plan="window"
        ).collect()
    }
    b = {
        r["doc_id"]: (r["n_paras"], r["n_dropped"], r["text"])
        for r in paragraph_dedup(
            docs, "doc_id", "text", para_words=15, _plan="agg_join"
        ).collect()
    }
    assert a == b and len(a) > 0

    boiler = "subscribe to our newsletter"
    nl = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    f"unique one\n{boiler}\nunique two",
                    f"{boiler}\n\nother paragraph",  # empty line skipped
                    "solo paragraph",
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(nl, "doc_id", "text", boundary="newline").collect()
    }
    # doc 1 holds the canonical boiler (lowest key): intact, rebuilt with \n
    assert (out[1]["n_paras"], out[1]["n_dropped"]) == (3, 0)
    assert out[1]["text"] == f"unique one\n{boiler}\nunique two"
    # doc 2: empty line carries no paragraph; boiler copy dropped
    assert (out[2]["n_paras"], out[2]["n_dropped"]) == (2, 1)
    assert out[2]["text"] == "other paragraph"
    assert (out[3]["n_paras"], out[3]["n_dropped"]) == (1, 0)

    with pytest.raises(ValueError, match="boundary"):
        paragraph_dedup(nl, "doc_id", "text", boundary="sentence")


def test_topk_per_group_exact_and_skew_proof_shape(spark):
    """Exact per-group top-k: correct values on a real table for several
    k (incl. k > group size), and the SKEW-PROOF plan shape is pinned —
    Catalyst's rank-limit pushdown must put a Partial WindowGroupLimit
    BEFORE the exchange (map-side per-group top-k; the optimizer feature
    that made the hand-salted two-phase variant redundant, PERF.md r14).
    The pushdown is gated on spark.sql.window.group.limit.threshold, so a
    conf/engine regression fails here loudly."""
    import pytest

    from pyspark.sql import functions as F

    from fsql_spark.operators.domains import topk_per_group

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang"
    )
    per = {}
    for r in docs.collect():
        per.setdefault(r["lang"], []).append(r["doc_id"])
    for k in (1, 5, 10_000):
        want = {
            (lang, d) for lang, ds in per.items() for d in sorted(ds)[:k]
        }
        got = {
            (r["lang"], r["doc_id"])
            for r in topk_per_group(docs, "lang", ["doc_id"], k).collect()
        }
        assert got == want, k
    out = topk_per_group(docs, "lang", ["doc_id"], 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    partial = plan.find("WindowGroupLimit")
    assert partial != -1 and "Partial" in plan, plan[:500]
    # the Partial limit must sit BELOW the exchange (later in the printed
    # tree = earlier in execution): map-side top-k before any shuffle
    last_limit = plan.rfind("WindowGroupLimit")
    assert "Partial" in plan[last_limit : last_limit + 120]
    exch = plan.find("Exchange")
    assert exch != -1 and exch < last_limit, plan[:800]
    with pytest.raises(ValueError, match="k must be"):
        topk_per_group(docs, "lang", ["doc_id"], 0)


def test_parse_domain_heuristic(spark):
    """URL -> (host, registered domain): scheme-less, userinfo, port,
    deep subdomains, and single-label hosts all land sanely."""
    import pandas as pd

    from fsql_spark.operators.domains import parse_domain

    cases = {
        "https://www.example.com/a/b": ("www.example.com", "example.com"),
        "http://a.b.news.co.uk:8080/x?q=1": ("a.b.news.co.uk", "co.uk"),
        "ftp://user:pw@files.example.org/f": ("files.example.org", "example.org"),
        "example.com/path": ("example.com", "example.com"),
        "https://localhost/admin": ("localhost", "localhost"),
        "HTTPS://MiXeD.CaSe.NET/": ("mixed.case.net", "case.net"),
    }
    df = spark.createDataFrame(pd.DataFrame({"url": list(cases)}))
    host, reg = parse_domain("url")
    got = {
        r["url"]: (r["host"], r["domain"])
        for r in df.select("url", host.alias("host"), reg.alias("domain")).collect()
    }
    assert got == cases


def test_quality_classifier_fit_score_semantics(spark):
    """The linear quality classifier: class refusals, partial-model
    refusal, probabilities in (0,1), positive-class docs scoring higher on
    average than negative (it did learn SOMETHING), and length-invariance
    (a doc concatenated with itself keeps its p_good — mean pooling)."""
    import pandas as pd
    import pytest

    from pyspark.sql import functions as F

    from fsql_spark.operators.quality import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows, bias = quality_classifier_fit(docs, "text", F.col("lang") == "en", 512)
    assert len(rows) == 512
    scored = quality_classifier_score(docs, "doc_id", "text", rows, bias, 512)
    pdf = scored.join(docs.select("doc_id", "lang"), "doc_id").toPandas()
    assert ((pdf.p_good > 0) & (pdf.p_good < 1)).all()
    assert pdf[pdf.lang == "en"].p_good.mean() > pdf[pdf.lang != "en"].p_good.mean()

    # length invariance: text+text scores the same under mean pooling...
    # up to the one boundary bigram the concatenation introduces, so build
    # a doc from an exactly repeated text instead
    base = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["aa bb cc", "aa bb cc aa bb cc"]})
    )
    # fit where both texts' grams exist
    fit_corpus = docs.select("text", "lang").unionByName(
        spark.createDataFrame(pd.DataFrame({"text": ["aa bb cc"], "lang": ["en"]}))
    )
    rows2, bias2 = quality_classifier_fit(fit_corpus, "text", F.col("lang") == "en", 512)
    out = {
        r["doc_id"]: r["p_good"]
        for r in quality_classifier_score(base, "doc_id", "text", rows2, bias2, 512).collect()
    }
    # not exactly equal (the repeat splices one extra 'cc aa' bigram) but
    # within the dilution of 1 gram among 11 — far tighter than a sum would be
    assert abs(out[1] - out[2]) < 0.02

    with pytest.raises(ValueError, match="both classes"):
        quality_classifier_fit(docs, "text", F.lit(True), 512)
    with pytest.raises(ValueError, match="partial quality model"):
        quality_classifier_score(docs, "doc_id", "text", rows[:100], bias, 512)


def test_contamination_stateless_matches_batch(spark):
    """The crawl-ingest kernel scorer reproduces contamination_fraction
    EXACTLY (same gram identity, same rounding) on the real corpus."""
    from pyspark.sql import functions as F

    from fsql_spark.operators.decontam import (
        benchmark_grams,
        contamination_fraction,
        contamination_score_stateless,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where(F.col("doc_id") < 20)
    corpus = docs.where(F.col("doc_id") >= 20)
    want = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contamination"], r["drop"])
        for r in contamination_fraction(
            corpus, bench, "doc_id", "text", "text", ngram=4, threshold=0.5
        ).collect()
    }
    bench_rows = benchmark_grams(bench, "text", ngram=4).collect()
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contamination"], r["drop"])
        for r in contamination_score_stateless(
            corpus, bench_rows, "doc_id", "text", ngram=4, threshold=0.5
        ).collect()
    }
    assert got == want and len(got) > 0
    assert any(v[1] > 0 for v in got.values())  # real hits, not vacuous


def test_quality_classifier_matches_python_on_random_corpora(spark):
    """Property sweep: quality_classifier_fit/score equals an independent
    pure-Python NB-linear model (md5-hashed uni+bigram buckets, Laplace
    log-odds, class-prior bias, mean pooling, sigmoid) on random tiny-vocab
    corpora at small B."""
    import hashlib
    import math
    import random

    import pandas as pd

    from pyspark.sql import functions as F

    from fsql_spark.operators.quality import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    rng = random.Random(53)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    for trial in range(3):
        B = rng.choice([16, 64])
        texts = {
            d: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9)))
            for d in range(1, 13)
        }
        labels = {d: ("good" if d <= 5 else "raw") for d in texts}

        def bucket(g):
            return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

        def gram_instances(t):
            ws = [w for w in t.split(" ") if w]
            return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

        p_cnt = [0] * B
        n_cnt = [0] * B
        for d, t in texts.items():
            tgt = p_cnt if labels[d] == "good" else n_cnt
            for g in gram_instances(t):
                tgt[bucket(g)] += 1
        p_tot, n_tot = sum(p_cnt), sum(n_cnt)
        w = [
            math.log((p_cnt[b] + 1.0) / (p_tot + B))
            - math.log((n_cnt[b] + 1.0) / (n_tot + B))
            for b in range(B)
        ]
        n_pos = sum(1 for d in labels if labels[d] == "good")
        bias = math.log(n_pos / (len(labels) - n_pos))
        want = {}
        for d, t in texts.items():
            gi = gram_instances(t)
            if not gi:
                continue
            s = bias + sum(w[bucket(g)] for g in gi) / len(gi)
            p = round(1.0 / (1.0 + math.exp(-s)), 4)
            want[d] = (len(gi), p, int(p >= 0.5))

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(texts),
                    "text": [texts[d] for d in texts],
                    "lab": [labels[d] for d in texts],
                }
            )
        )
        rows, got_bias = quality_classifier_fit(df, "text", F.col("lab") == "good", B)
        assert abs(got_bias - bias) < 1e-12
        got = {
            r["doc_id"]: (r["n_grams"], r["p_good"], r["keep"])
            for r in quality_classifier_score(
                df, "doc_id", "text", rows, got_bias, B
            ).collect()
        }
        assert got == want, (trial, got, want)


def test_topk_per_group_matches_python_on_random_groups(spark):
    """Property sweep: exact top-k equals the pure-Python sort-and-slice
    per group on random group layouts (unique order keys — the documented
    total-order contract)."""
    import random

    import pandas as pd

    from fsql_spark.operators.domains import topk_per_group

    rng = random.Random(71)
    for trial in range(3):
        n = rng.randint(20, 120)
        groups = [f"g{rng.randint(0, 6)}" for _ in range(n)]
        keys = rng.sample(range(100_000), n)  # unique
        k = rng.choice([1, 3, 7])
        want = set()
        per = {}
        for g, x in zip(groups, keys):
            per.setdefault(g, []).append(x)
        for g, xs in per.items():
            want |= {(g, x) for x in sorted(xs)[:k]}
        df = spark.createDataFrame(pd.DataFrame({"grp": groups, "key": keys}))
        got = {
            (r["grp"], r["key"])
            for r in topk_per_group(df, "grp", ["key"], k).collect()
        }
        assert got == want, (trial, k)


def test_paragraph_dedup_newline_matches_python_on_random_corpora(spark):
    """Property sweep: the newline boundary (both plans) equals an
    independent pure-Python model — split on \\n, drop empty lines,
    count -> canonical-min survival -> \\n rejoin — on random corpora with
    forced collisions."""
    import random

    import pandas as pd

    from fsql_spark.operators.dedup import paragraph_dedup

    rng = random.Random(83)
    paras_pool = ["aa bb", "cc", "dd ee ff", "aa", "bb cc"]
    for trial, plan in [(0, "window"), (1, "agg_join"), (2, "agg_join")]:
        texts = {
            d: "\n".join(
                rng.choice(paras_pool + [""])  # empties exercise the skip
                for _ in range(rng.randint(0, 6))
            )
            for d in range(1, 9)
        }
        # python model
        occ = {}
        doc_paras = {}
        for d in sorted(texts):
            ps = [p for p in texts[d].split("\n") if p != ""]
            doc_paras[d] = ps
            for i, p in enumerate(ps):
                occ.setdefault(p, []).append((d, i))
        want = {}
        for d, ps in doc_paras.items():
            if not ps:
                continue
            kept = [
                p
                for i, p in enumerate(ps)
                if len(occ[p]) < 2 or min(occ[p]) == (d, i)
            ]
            want[d] = (len(ps), len(ps) - len(kept), "\n".join(kept))
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(texts), "text": [texts[d] for d in texts]})
        )
        got = {
            r["doc_id"]: (r["n_paras"], r["n_dropped"], r["text"])
            for r in paragraph_dedup(
                df, "doc_id", "text", boundary="newline", _plan=plan
            ).collect()
        }
        assert got == want, (trial, plan, got, want)


def test_quality_stateless_matches_batch(spark):
    """The crawl-ingest kernel scorer reproduces the batch classifier
    EXACTLY (same gram identity, same mean-pool arithmetic, same JVM-side
    rounding) on the real corpus; partial/duplicate models refuse."""
    import pytest

    from pyspark.sql import functions as F

    from fsql_spark.operators.quality import (
        quality_classifier_fit,
        quality_classifier_score,
        quality_score_stateless,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows, bias = quality_classifier_fit(docs, "text", F.col("lang") == "en", 512)
    want = {
        r["doc_id"]: (r["n_grams"], r["p_good"], r["keep"])
        for r in quality_classifier_score(
            docs, "doc_id", "text", rows, bias, 512
        ).collect()
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["p_good"], r["keep"])
        for r in quality_score_stateless(
            docs, rows, bias, "doc_id", "text", 512
        ).collect()
    }
    assert got == want and len(got) > 0

    with pytest.raises(ValueError, match="partial quality model"):
        quality_score_stateless(docs, rows[:100], bias, "doc_id", "text", 512)
    dup = rows[:-1] + [rows[0]]
    with pytest.raises(ValueError, match="malformed quality model"):
        quality_score_stateless(docs, dup, bias, "doc_id", "text", 512)


def test_quality_batch_scorer_refuses_duplicate_bucket_model(spark):
    """The batch join scorer must refuse the SAME malformed models the
    stateless kernel refuses (review find: a duplicated+missing bucket
    pair passes a length-only check, then the inner join silently drops
    every gram hashing to the hole — batch and stream verdicts diverge)."""
    import pytest

    from pyspark.sql import functions as F

    from fsql_spark.operators.quality import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows, bias = quality_classifier_fit(docs, "text", F.col("lang") == "en", 128)
    dup = rows[:-1] + [rows[0]]
    with pytest.raises(ValueError, match="malformed quality model"):
        quality_classifier_score(docs, "doc_id", "text", dup, bias, 128)


def test_contamination_stateless_null_text_absent_like_batch(spark):
    """NULL text must be absent from the kernel scorer's output exactly
    like the batch path (review find: coercing NULL to '' fabricated a
    {''} gram set at ngram=1 and emitted a row the batch twin omits)."""
    import pandas as pd

    from fsql_spark.operators.decontam import (
        benchmark_grams,
        contamination_fraction,
        contamination_score_stateless,
    )

    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["aa bb", None, ""]})
    )
    bench = spark.createDataFrame(pd.DataFrame({"text": ["aa bb cc"]}))
    for n in (1, 2):
        want = {
            r["doc_id"]: (r["n_grams"], r["n_hits"])
            for r in contamination_fraction(
                corpus, bench, "doc_id", "text", "text", ngram=n
            ).collect()
        }
        got = {
            r["doc_id"]: (r["n_grams"], r["n_hits"])
            for r in contamination_score_stateless(
                corpus, benchmark_grams(bench, "text", n).collect(),
                "doc_id", "text", ngram=n,
            ).collect()
        }
        assert got == want, (n, got, want)
        assert 2 not in got  # NULL text carries no grams in either engine


def test_checkpoint_metadata_corruption_refuses_loudly(tmp_path):
    """An offsets entry that EXISTS but cannot be parsed must raise, not
    silently disable the state-partition immutability guard (review
    find)."""
    import os

    import pytest

    from fsql_spark.streaming.windows import checkpoint_state_partitions

    ck = tmp_path / "ckpt" / "offsets"
    os.makedirs(ck)
    (ck / "0").write_text("v1\n")  # truncated: no metadata line
    with pytest.raises(ValueError, match="could not be parsed"):
        checkpoint_state_partitions(str(tmp_path / "ckpt"))
    # no offsets at all stays None (fresh dir)
    assert checkpoint_state_partitions(str(tmp_path / "fresh")) is None


def test_parse_domain_arbitrated_against_urllib(spark):
    """Host extraction arbitrated against an INDEPENDENT implementation
    (stdlib urllib.parse) — the repo's always-arbitrate codec policy
    applied to URL parsing: for scheme-ful URLs the two must agree on the
    host; random structured URLs sweep userinfo/port/case/depth."""
    import random
    from urllib.parse import urlsplit

    import pandas as pd

    from fsql_spark.operators.domains import parse_domain

    rng = random.Random(97)
    urls = []
    for _ in range(60):
        scheme = rng.choice(["http", "https", "ftp"])
        user = rng.choice(["", "u@", "user:pw@"])
        labels = [
            rng.choice(["www", "cdn", "a", "News", "x9"])
            for _ in range(rng.randint(0, 3))
        ] + [rng.choice(["example", "Test", "site7"]), rng.choice(["com", "org", "co.uk"])]
        host = ".".join(labels)
        port = rng.choice(["", ":80", ":8443"])
        path = rng.choice(["", "/", "/a/b?q=1#f"])
        urls.append(f"{scheme}://{user}{host}{port}{path}")
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    h, _reg = parse_domain("url")
    got = {r["url"]: r["host"] for r in df.select("url", h.alias("host")).collect()}
    for u in urls:
        want = (urlsplit(u).hostname or "").lower()
        assert got[u] == want, (u, got[u], want)
