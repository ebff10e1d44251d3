"""Unit tests for the LLM-data ops (dedup / similarity / text / multimodal).

Synthetic micro-fixtures pin the semantics; the driver-scale parity against
DuckDB lives in tools/parity_check.py over /root/testdata."""

import math

import pytest
from pyspark.sql import Row, functions as F

from manufacturing_data_integration_tool_spark.ops import (
    assemble_multimodal,
    cosine_topk,
    decode_binary_column,
    doc_quality,
    exact_dedup,
    exact_dedup_by_content,
    language_id,
    lsh_ann_topk,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    term_counts,
)
from manufacturing_data_integration_tool_spark.ops.dedup import word_shingles


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog", lang="en", source="a"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog", lang="en", source="b"),
            Row(doc_id=3, text="the quick brown fox jumps over a lazy dog", lang="en", source="c"),
            Row(doc_id=4, text="completely different content here entirely unique", lang="en", source="d"),
            Row(doc_id=5, text="el perro y el gato en la casa", lang="es", source="e"),
        ]
    )


def test_exact_dedup_by_content(spark, docs):
    groups = exact_dedup_by_content(docs, "text", "doc_id").collect()
    assert len(groups) == 4  # docs 1+2 collapse
    dup = [g for g in groups if g["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [Row(k="a", v=3), Row(k="a", v=1), Row(k="b", v=2)]
    )
    kept = {(r["k"], r["v"]) for r in exact_dedup(df, ["k"], tie_break=["v"]).collect()}
    assert kept == {("a", 1), ("b", 2)}


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(text="a b c d")])
    out = df.select(word_shingles("text", 3).alias("sh")).collect()[0]["sh"]
    assert sorted(out) == ["a b c", "b c d"]
    # short text -> empty array, not null
    short = spark.createDataFrame([Row(text="a b")])
    assert short.select(word_shingles("text", 3).alias("sh")).collect()[0]["sh"] == []


def test_ngram_jaccard_pairs(spark, docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.99).collect()
    assert {(p["doc_a"], p["doc_b"]) for p in pairs} == {(1, 2)}  # identical docs only
    # docs 1/3 share 4 of 10 distinct trigrams -> jaccard 0.4
    loose = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.35).collect()
    got = {(p["doc_a"], p["doc_b"]) for p in loose}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert not any(4 in p or 5 in p for p in got)


def test_ngram_jaccard_hot_shingle_guard_bounds_join(spark):
    """A stop-phrase corpus must not explode quadratically: with the
    document-frequency cap active, shingles shared by every doc are dropped
    before the inverted-index self-join, so the pair count collapses from
    C(n,2) to ~0."""
    n = 40
    rows = [Row(doc_id=i, text=f"all docs share this exact phrase tail{i} x{i} y{i}") for i in range(n)]
    df = spark.createDataFrame(rows)
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3)
    assert uncapped.count() == n * (n - 1) // 2  # the blow-up
    capped = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3, max_shingle_df=5)
    assert capped.count() == 0
    # relative form: 10% of a 40-doc corpus -> cap 4, same collapse
    rel = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3, max_shingle_df=0.1)
    assert rel.count() == 0


def test_ngram_jaccard_cap_keeps_rare_shingle_pairs(spark, docs):
    """The cap drops only hot shingles; pairs held together by rare
    shingles survive (df of every shingle in the 5-doc fixture <= 3)."""
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.99, max_shingle_df=4)
    assert {(p["doc_a"], p["doc_b"]) for p in pairs.collect()} == {(1, 2)}


def test_minhash_candidates_finds_near_dups(spark, docs):
    cands = minhash_candidates(docs, "doc_id", "text", max_distance=0.5).collect()
    got = {(c["doc_a"], c["doc_b"]) for c in cands}
    assert (1, 2) in got  # identical docs always collide
    assert not any((4 in p) or (5 in p) for p in got)


def test_duplicate_span_coverage_hand_computed(spark):
    """ExactSubstr-lite on a fixture where the answer is countable by
    hand: doc 1 and doc 2 share an 8-token boilerplate prefix; doc 3 is
    unique; doc 4 repeats its own 8-token phrase twice (same-doc repeats
    count, as in ExactSubstr)."""
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        duplicate_span_coverage,
    )

    boiler = "the quick brown fox jumps over the lazy"  # 8 tokens
    rows = [
        (1, boiler + " dog one"),
        (2, boiler + " cat two"),
        (3, "completely unique text with eight distinct tokens here now"),
        (4, boiler + " " + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_span_coverage(df, "doc_id", "text").collect()}
    # docs 1/2: only the window at pos 1 is shared (later windows include
    # the doc-specific tail tokens) -> 1 dup span covering 8 tokens
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 8
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 8
    assert out[1]["n_tokens"] == 10
    # doc 3: nothing duplicated
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_tokens"] == 0
    # doc 4 = boiler twice (16 tokens): windows at pos 1 and pos 9 are the
    # boiler itself (dup vs docs 1/2 AND each other); pos 2..8 windows wrap
    # around the seam and are unique. Union of [1,9) ∪ [9,17) covers all 16.
    assert out[4]["n_tokens"] == 16
    assert out[4]["n_dup_spans"] == 2 and out[4]["dup_tokens"] == 16
    # short docs (< 8 tokens) emit a row with zeros, not nothing
    short = spark.createDataFrame([(9, "too short")], "doc_id long, text string")
    srow = duplicate_span_coverage(short, "doc_id", "text").collect()[0]
    assert srow["n_tokens"] == 2 and srow["n_dup_spans"] == 0
    # guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="span_tokens"):
        duplicate_span_coverage(df, "doc_id", "text", span_tokens=1)


def test_countmin_never_undercounts_and_merges(spark, sf_dir):
    """CMS guarantees: estimate >= exact for EVERY term (checked for all
    terms of the sf0.001 corpus), and sketches merge by cell summation
    (sketch(A ++ B) == cellwise sum of sketch(A) and sketch(B))."""
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops.text import (
        countmin_estimate,
        countmin_sketch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    exact = {
        r["term"]: r["n"]
        for r in docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    sketch = countmin_sketch(docs, "text", depth=4, width=512).localCheckpoint()
    terms = sorted(exact)
    est = {
        r["term"]: r["cm_estimate"]
        for r in countmin_estimate(sketch, terms, depth=4, width=512).collect()
    }
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in terms), [
        (t, exact[t], est[t]) for t in terms if est[t] < exact[t]
    ][:5]
    # width large vs vocab -> most estimates exact; sanity that it's not
    # degenerate (everything massively overcounted)
    n_exact = sum(1 for t in terms if est[t] == exact[t])
    assert n_exact > len(terms) * 0.5
    # mergeability: split the corpus, sum the cell tables, same sketch
    a = countmin_sketch(docs.filter(F.col("doc_id") % 2 == 0), "text", depth=4, width=512)
    b = countmin_sketch(docs.filter(F.col("doc_id") % 2 == 1), "text", depth=4, width=512)
    merged = {
        (r["row"], r["col"]): r["cnt"]
        for r in a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    whole = {(r["row"], r["col"]): r["cnt"] for r in sketch.collect()}
    assert merged == whole
    # guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="depth"):
        countmin_sketch(docs, "text", depth=5)
    with _pytest.raises(ValueError, match="width"):
        countmin_sketch(docs, "text", width=1)


def test_duplicate_span_coverage_matches_twin_random_corpus(spark):
    """Seeded differential: Spark span coverage == a pure-Python twin on
    a random corpus built from a tiny vocabulary (so duplicated windows
    occur organically at many positions, including overlapping runs)."""
    import random

    from manufacturing_data_integration_tool_spark.ops.dedup import (
        duplicate_span_coverage,
    )

    rng = random.Random(20260814)
    vocab = ["a", "b", "c", "d"]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for i in range(40)
    }
    L = 4

    def twin():
        wins: dict[str, int] = {}
        per_doc: dict[int, list[int]] = {}
        for i, t in texts.items():
            tk = t.split()
            ps = []
            for p in range(len(tk) - L + 1):
                key = " ".join(tk[p : p + L])
                wins[key] = wins.get(key, 0) + 1
                ps.append((p + 1, key))
            per_doc[i] = ps
        out = {}
        for i, ps in per_doc.items():
            dup = sorted(p for p, key in ps if wins[key] >= 2)
            cov, prev = 0, None
            for p in dup:
                cov += L if prev is None else min(L, p - prev)
                prev = p
            out[i] = (len(texts[i].split()), len(dup), cov)
        return out

    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
        for r in duplicate_span_coverage(df, "doc_id", "text", span_tokens=L).collect()
    }
    assert got == twin()


def test_minhash_md5_family_matches_python_twin(spark, docs):
    """The portable md5_32 family (the oracle-able variant of q27/q71)
    must reproduce a pure-Python twin exactly: 4 lanes of
    md5(shingle || chr(31) || salt), min per lane over the doc's
    3-gram shingles."""
    import hashlib

    from manufacturing_data_integration_tool_spark.ops.dedup import minhash_signatures

    def twin(text: str, num_hashes: int = 48) -> list[int]:
        tk = [t for t in text.lower().split() if t]
        shingles = {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}
        sig = []
        for i in range(num_hashes):
            salt, lane = i // 4, i % 4
            vals = [
                int(
                    hashlib.md5((s + "\x1f" + str(salt)).encode()).hexdigest()[
                        8 * lane : 8 * lane + 8
                    ],
                    16,
                )
                for s in shingles
            ]
            sig.append(min(vals))
        return sig

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = {
        r["doc"]: list(r["sig"])
        for r in minhash_signatures(
            docs, "doc_id", "text", hash_family="md5_32"
        ).collect()
    }
    for doc_id, sig in out.items():
        assert sig == twin(texts[doc_id]), f"doc {doc_id} signature mismatch"
    # candidate generation with the portable family keeps LSH semantics
    cands = minhash_candidates(
        docs, "doc_id", "text", max_distance=0.5, hash_family="md5_32"
    ).collect()
    got = {(c["doc_a"], c["doc_b"]) for c in cands}
    assert (1, 2) in got
    assert not any((4 in p) or (5 in p) for p in got)
    # unknown family raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_family"):
        minhash_signatures(docs, "doc_id", "text", hash_family="fnv")


def test_simhash_near_dups_banding(spark, docs):
    """Hamming-0 pairs (identical docs) must always be candidates via the
    pigeonhole banding; far pairs must not pass the Hamming budget."""
    from manufacturing_data_integration_tool_spark.ops import simhash_near_dups

    out = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
           simhash_near_dups(docs, "doc_id", "text", max_hamming=3).collect()}
    assert out[(1, 2)] == 0  # identical docs
    assert all(h <= 3 for h in out.values())
    assert not any(4 in p or 5 in p for p in out)  # unrelated docs excluded


def test_simhash_identical_docs_same_fingerprint(spark, docs):
    fp = {r["doc"]: r["simhash"] for r in simhash_fingerprints(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 64 and set(fp[1]) <= {"0", "1"}
    # near-dup docs should be close in Hamming distance, far docs far
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(fp[1], fp[3]) < ham(fp[1], fp[4])


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
        Row(vec_id=4, embedding=[-1.0, 0.0, 0.0]),
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_cosine_topk_ordering(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = cosine_topk(vectors, q, k=4).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1  # closest
    assert ranked[-1] == 4  # opposite direction last
    sims = {r["vec_id"]: r["cosine_sim"] for r in out}
    assert math.isclose(sims[4], -1.0, abs_tol=1e-9)
    assert math.isclose(sims[2], 0.0, abs_tol=1e-9)


def test_lsh_ann_recall_on_tiny_set(spark, vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    out = lsh_ann_topk(vectors, q, k=2, num_hash_tables=5, bucket_length=2.0).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])][0] == 1


def test_hyperplane_candidates_subset_and_colinear_recall(spark, vectors):
    """Candidate pairs are a subset of all pairs; identical-direction
    vectors land in the same bucket in every table (all sign bits equal),
    so the (0,1) near-dup pair is always recalled."""
    from manufacturing_data_integration_tool_spark.ops.similarity import hyperplane_candidates

    cands = hyperplane_candidates(vectors, dim=3, n_tables=4, n_planes=2, seed=3)
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert all(a < b for a, b in got)
    assert got <= {(a, b) for a in range(5) for b in range(5) if a < b}
    near = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 2.0, 3.0]), Row(vec_id=1, embedding=[2.0, 4.0, 6.0])]
    )
    same_dir = hyperplane_candidates(near, dim=3, n_tables=2, n_planes=4, seed=9)
    assert {(r["id_a"], r["id_b"]) for r in same_dir.collect()} == {(0, 1)}


def test_embedding_near_dups_bare_call_raises(spark, vectors):
    """The O(n^2) all-pairs form must be an explicit opt-in: a bare call
    (no candidates, no allow_quadratic) raises instead of planning a
    corpus-scale cartesian by default."""
    import pytest

    from manufacturing_data_integration_tool_spark.ops.dedup import embedding_near_dups

    with pytest.raises(ValueError, match="allow_quadratic"):
        embedding_near_dups(vectors, threshold=0.5)


def test_embedding_near_dups_candidates_routing(spark, vectors):
    """Scoring restricted to candidates == exact result intersected with
    the candidate set — and the candidate plan has no cartesian join."""
    from manufacturing_data_integration_tool_spark.ops.dedup import embedding_near_dups
    from manufacturing_data_integration_tool_spark.ops.similarity import hyperplane_candidates

    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_near_dups(vectors, threshold=0.5, allow_quadratic=True).collect()
    }
    cands = hyperplane_candidates(vectors, dim=3, n_tables=6, n_planes=2, seed=1)
    cand_pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    routed = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_near_dups(vectors, threshold=0.5, candidates=cands).collect()
    }
    assert routed == {p: s for p, s in exact.items() if p in cand_pairs}


def test_term_counts(spark, docs):
    tc = {r["term"]: r["term_count"] for r in term_counts(docs, "text").collect()}
    assert tc["the"] == 5  # 2+2+1 across docs 1,2,3
    assert tc["el"] == 2


def test_doc_quality_metrics(spark, docs):
    q = {r["doc_id"]: r for r in doc_quality(docs).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["n_distinct_tokens"] == 8  # 'the' twice
    assert abs(q[1]["type_token_ratio"] - round(8 / 9, 4)) < 1e-9


def test_language_id(spark, docs):
    pred = {r["doc_id"]: r["predicted_lang"] for r in language_id(docs).collect()}
    assert pred[1] == "en"
    assert pred[5] == "es"


def test_multimodal_assemble_and_decode(spark, docs):
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[0.1] * 4, label=i % 2) for i in range(1, 6)]
    )
    assembled = assemble_multimodal(docs, emb)
    row = assembled.filter(F.col("doc_id") == 1).collect()[0]
    assert row["media"]["meta"]["media_type"] == "text/plain"
    assert bytes(row["media"]["payload"]).decode() == docs.filter(F.col("doc_id") == 1).collect()[0]["text"]

    decoded = decode_binary_column(assembled)
    out = {r["doc_id"]: r for r in decoded.collect()}
    assert len(out) == 5
    assert out[1]["n_bytes"] == len(docs.filter(F.col("doc_id") == 1).collect()[0]["text"])
    assert out[1]["width"] == 64 and out[1]["height"] == 64
    # deterministic fake feature: byte sum of the payload
    assert out[1]["feature_hash"] == sum(b"the quick brown fox jumps over the lazy dog")


def test_decode_real_codecs_stubbed(spark, docs):
    emb = spark.createDataFrame([Row(vec_id=1, embedding=[0.1] * 4, label=0)])
    assembled = assemble_multimodal(docs, emb)
    # the stub guard raises EAGERLY on the driver at plan-build time — no
    # .collect() needed, and no executor-side task failure to decode
    with pytest.raises(NotImplementedError, match="real media decoding"):
        decode_binary_column(assembled, real_codecs=True)
    from manufacturing_data_integration_tool_spark.ops import resize_media, sample_frames
    from manufacturing_data_integration_tool_spark.ops.multimodal import extract_features

    for fn, msg in (
        (resize_media, "resizing"),
        (sample_frames, "frame sampling"),
        (extract_features, "feature extraction"),
    ):
        with pytest.raises(NotImplementedError, match=msg):
            fn(assembled, real_codecs=True)


def test_multimodal_output_id_named_from_id_col(spark, docs):
    from manufacturing_data_integration_tool_spark.ops import resize_media, sample_frames

    emb = spark.createDataFrame([Row(vec_id=i, embedding=[0.1] * 4, label=0) for i in range(1, 6)])
    assembled = assemble_multimodal(docs, emb).withColumnRenamed("doc_id", "item_id")
    resized = resize_media(assembled, id_col="item_id", target_bytes=16)
    assert resized.columns[0] == "item_id"
    assert resized.filter(F.col("item_id") == 1).collect()[0]["n_bytes"] == 16
    frames = sample_frames(assembled, id_col="item_id", frame_bytes=8, every_n=2)
    assert frames.columns[0] == "item_id"
    assert frames.count() > 0


def test_embedding_near_dups(spark, vectors):
    from manufacturing_data_integration_tool_spark.ops import embedding_near_dups

    pairs = embedding_near_dups(vectors, threshold=0.9, allow_quadratic=True).collect()
    got = {(p["id_a"], p["id_b"]): p["cosine_sim"] for p in pairs}
    assert set(got) == {(0, 1)}  # only the 0.9939-similar pair passes 0.9
    assert got[(0, 1)] > 0.99


def test_asof_join_semantics(spark):
    from manufacturing_data_integration_tool_spark.ops import asof_join

    left = spark.createDataFrame(
        [Row(k="a", t=5, lv="L5"), Row(k="a", t=10, lv="L10"),
         Row(k="a", t=2, lv="L2"), Row(k="b", t=7, lv="B7")]
    )
    right = spark.createDataFrame(
        [Row(k="a", t=3, rv=30.0), Row(k="a", t=10, rv=100.0), Row(k="c", t=1, rv=1.0)]
    )
    out = {
        (r["k"], r["t"]): r["rv"]
        for r in asof_join(
            left, right, ["k"], left_ts="t", right_ts="t", right_value_cols=["rv"]
        ).collect()
    }
    assert out[("a", 2)] is None      # no right row at-or-before t=2
    assert out[("a", 5)] == 30.0      # latest at-or-before is t=3
    assert out[("a", 10)] == 100.0    # tie at equal ts: right row visible
    assert out[("b", 7)] is None      # key with no right rows at all


def test_range_join_equals_naive_between(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import range_join

    points = spark.createDataFrame(
        [Row(k="a", t=i) for i in range(0, 100, 7)] + [Row(k="b", t=50)]
    )
    iv = spark.createDataFrame(
        [Row(k="a", s=10, e=40), Row(k="a", s=35, e=36), Row(k="b", s=0, e=49)]
    )
    binned = {
        (r["k"], r["t"], r["s"])
        for r in range_join(points, iv, ["k"], point_col="t", start_col="s",
                            end_col="e", bin_width=8).collect()
    }
    naive = {
        (r["k"], r["t"], r["s"])
        for r in points.join(iv, "k").filter("t between s and e").collect()
    }
    assert binned == naive and len(naive) > 0


def test_time_rollup_levels(spark):
    from manufacturing_data_integration_tool_spark.ops.temporal import time_rollup

    ev = spark.createDataFrame(
        [Row(ts_ns=h * 3_600_000_000_000 + m, value=1.0)
         for h in (0, 1, 25) for m in (0, 1)]
    )
    out = time_rollup(
        ev,
        buckets=[("day", 24 * 3_600_000_000_000), ("hour", 3_600_000_000_000)],
        time_col="ts_ns",
        aggs=[F.count(F.lit(1)).alias("n")],
    ).collect()
    rows = {(r["day"], r["hour"]): r["n"] for r in out}
    assert rows[(0, 0)] == 2 and rows[(0, 1)] == 2 and rows[(1, 25)] == 2  # finest
    assert rows[(0, None)] == 4 and rows[(1, None)] == 2                   # per-day
    assert rows[(None, None)] == 6                                         # grand total


def test_extract_features_histogram(spark, docs):
    from manufacturing_data_integration_tool_spark.ops import extract_features

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[0.1] * 4, label=i % 2) for i in range(1, 6)]
    )
    assembled = assemble_multimodal(docs, emb)
    out = {r["doc_id"]: r["features"] for r in extract_features(assembled, dim=8).collect()}
    assert len(out) == 5
    for feats in out.values():
        assert len(feats) == 8
        assert math.isclose(sum(feats), 1.0, rel_tol=1e-5)  # normalized histogram
    # identical payloads -> identical features (docs 1 and 2 share text)
    assert out[1] == out[2]


def test_resize_media_fixed_budget(spark, docs):
    from manufacturing_data_integration_tool_spark.ops import resize_media

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[0.1] * 4, label=i % 2) for i in range(1, 6)]
    )
    assembled = assemble_multimodal(docs, emb)
    out = resize_media(assembled, target_bytes=32).collect()
    assert len(out) == 5
    assert all(r["n_bytes"] == 32 and len(bytes(r["payload"])) == 32 for r in out)
    # truncation keeps the prefix
    r1 = next(r for r in out if r["doc_id"] == 1)
    assert bytes(r1["payload"]) == b"the quick brown fox jumps over t"


def test_sample_frames_every_n(spark, docs):
    from manufacturing_data_integration_tool_spark.ops import sample_frames

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[0.1] * 4, label=i % 2) for i in range(1, 6)]
    )
    assembled = assemble_multimodal(docs, emb)
    # doc 1 text is 43 bytes -> 4 frames of 10 bytes -> sampled idx 0, 2
    out = sample_frames(assembled, frame_bytes=10, every_n=2).collect()
    d1 = sorted((r["frame_idx"], bytes(r["frame"])) for r in out if r["doc_id"] == 1)
    assert [i for i, _ in d1] == [0, 2]
    assert d1[0][1] == b"the quick "
    assert d1[1][1] == b"jumps over"


def test_repetition_stats_math(spark):
    from manufacturing_data_integration_tool_spark.ops import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),   # 6 trigrams, 3 distinct -> 0.5
            (2, "x y"),               # too short -> 0 grams, frac 0.0
            (3, "p q r s"),           # 2 trigrams, all distinct -> 0.0
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_grams"] == 6 and got[1]["n_distinct_grams"] == 3
    assert got[1]["dup_gram_frac"] == 0.5
    assert got[2]["n_grams"] == 0 and got[2]["dup_gram_frac"] == 0.0
    assert got[3]["n_grams"] == 2 and got[3]["dup_gram_frac"] == 0.0


def test_fingerprint_contamination_planted_overlap(spark):
    from manufacturing_data_integration_tool_spark.ops import fingerprint_contamination

    # winnowing guarantee: any shared substring of length >= k + window - 1
    # (= 11 at defaults) produces at least one shared fingerprint
    leak = "the stolen benchmark answer string"
    train = spark.createDataFrame(
        [
            (1, f"some training text containing {leak} verbatim"),
            (2, "completely unrelated words about manufacturing lines"),
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [(100, f"benchmark item: {leak}")], ["doc_id", "text"]
    )
    hits = {
        r["doc_id"]: r
        for r in fingerprint_contamination(train, evalset, min_shared=1).collect()
    }
    assert 1 in hits and hits[1]["n_matched_docs"] == 1
    assert 2 not in hits


def test_sampling_and_normalize_are_streaming_safe(spark, tmp_path):
    """Stateless per-row ops must compose into a streaming plan unchanged
    (no batch-only operators): sample + normalize a file stream and drain."""
    from manufacturing_data_integration_tool_spark.ops import (
        normalize_text,
        stratified_sample,
    )

    src = tmp_path / "docs_in"
    spark.createDataFrame(
        [(i, "Some TEXT %d!" % i, "en" if i % 2 else "de") for i in range(100)],
        ["doc_id", "text", "lang"],
    ).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = normalize_text(
        stratified_sample(stream, "lang", "doc_id", {"en": 0.5, "de": 1.0})
    )
    q = (
        out.writeStream.format("memory")
        .queryName("samp_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    if q.isActive:
        q.stop()
    rows = spark.sql("select * from samp_out").collect()
    batch = set(
        r["doc_id"]
        for r in stratified_sample(
            spark.read.parquet(str(src)), "lang", "doc_id", {"en": 0.5, "de": 1.0}
        ).collect()
    )
    assert set(r["doc_id"] for r in rows) == batch  # stream == batch verdicts
    assert all("!" not in r["text_norm"] for r in rows)


def test_hll_estimate_close_to_exact(spark):
    """q74's HLL sketch estimate must land within 2% of the exact distinct
    count (lgConfigK default=12 -> ~1.6% RSE) and be partition-invariant
    (register-max merges are commutative)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in entry.q74_hll_distinct(spark, sf).collect()
    }
    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    ev = read_table(spark, sf, "events")
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, d in exact.items():
        assert abs(approx[k] - d) / d < 0.02, (k, approx[k], d)


def test_chunk_documents_boundaries(spark):
    """7 tokens, chunk_size=3, overlap=1 (stride 2): starts 0,2,4,6 ->
    chunks of sizes 3,3,3,1; empty docs yield no rows; idx/text exact."""
    from manufacturing_data_integration_tool_spark.ops.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, ""), (3, "x y")],
        ["doc_id", "text"],
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, chunk_size=3, overlap=1).collect()
    )
    assert rows == [
        (1, 0, 3, "a b c"),
        (1, 1, 3, "c d e"),
        (1, 2, 3, "e f g"),
        (1, 3, 1, "g"),
        (3, 0, 2, "x y"),
    ]


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from manufacturing_data_integration_tool_spark.ops.text import chunk_documents

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_knn_classify_majority_vote(spark):
    """3 corpus points near +x with label 1, 2 near +y with label 2; a +x
    query must vote label 1 (k=3 -> at least 2 of 3 neighbors are +x)."""
    from pyspark.sql import Row, types as T

    from manufacturing_data_integration_tool_spark.ops.similarity import knn_classify

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0], label=1),
            Row(vec_id=2, embedding=[0.9, 0.1], label=1),
            Row(vec_id=3, embedding=[0.8, 0.2], label=1),
            Row(vec_id=4, embedding=[0.0, 1.0], label=2),
            Row(vec_id=5, embedding=[0.1, 0.9], label=2),
        ],
        schema,
    )
    queries = spark.createDataFrame(
        [Row(vec_id=100, embedding=[1.0, 0.05], label=0)], schema
    )
    rows = knn_classify(corpus, queries, k=3).collect()
    assert len(rows) == 1
    assert rows[0]["query_id"] == 100
    assert rows[0]["pred_label"] == 1
    assert rows[0]["n_votes"] == 3


def test_quantize_embeddings_roundtrip(spark):
    """Codes span [0, 255]; dequantized max error is bounded by scale/2;
    constant vectors quantize to all-zero codes with scale 1."""
    from pyspark.sql import Row, types as T

    from manufacturing_data_integration_tool_spark.ops.similarity import (
        quantize_embeddings,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.0, 0.5, 1.0]),
            Row(vec_id=2, embedding=[3.0, 3.0, 3.0]),
        ],
        schema,
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert out[1]["codes"] == [0, 128, 255]  # 0.5 -> 127.5 + 0.5 -> 128
    assert out[1]["q_min"] == 0.0
    assert out[1]["mean_abs_err"] <= out[1]["q_scale"] / 2
    assert out[2]["codes"] == [0, 0, 0]
    assert out[2]["q_scale"] == 1.0
    assert out[2]["mean_abs_err"] == 0.0


def test_quantize_embeddings_rejects_bad_bits(spark):
    from pyspark.sql import Row

    from manufacturing_data_integration_tool_spark.ops.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame([Row(vec_id=1, embedding=[1.0])])
    with pytest.raises(ValueError):
        quantize_embeddings(df, bits=0)


def test_fuzzy_key_pairs_blocked_levenshtein(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import fuzzy_key_pairs

    df = spark.createDataFrame(
        [(1, "widget"), (2, "widgit"), (3, "widget"), (4, "gadget"), (5, "wing")],
        ["id", "name"],
    )
    got = {(r["key_a"], r["key_b"], r["dist"]) for r in fuzzy_key_pairs(df, "name", max_dist=2, block_chars=2).collect()}
    # widget~widgit inside the 'wi' block at dist 1; gadget blocks under 'ga'
    # (never compared); wing vs widget/widgit is dist 3 -> filtered
    assert got == {("widget", "widgit", 1)}


def test_approx_quantiles_close_to_exact(spark):
    """q100's sketch quantiles must land within 2% relative error of the
    exact per-group percentiles (accuracy parameter 10000)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    approx = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in entry.q100_approx_quantiles(spark, sf).collect()
    }
    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    li = read_table(spark, sf, "lineitem")
    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"], r["p99"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, (a50, a90, a99) in approx.items():
        for a, e in zip((a50, a90, a99), exact[flag]):
            assert abs(a - e) / e < 0.02, (flag, a, e)


def test_zorder_interleave_matches_python_reference(spark):
    """The JVM-side Morton interleave must equal the classic bit-by-bit
    reference, and Z-ordering must tighten min/max ranges on BOTH
    dimensions vs a single-column sort (the data-skipping property)."""
    from manufacturing_data_integration_tool_spark.functions.layout import (
        interleave_bits_16,
        zorder_key_2d,
    )

    def ref_interleave(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 100)]
    df = spark.createDataFrame(vals, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["m"]
        for r in df.select("a", "b", interleave_bits_16("a", "b").alias("m")).collect()
    }
    for a, b in vals:
        assert got[(a, b)] == ref_interleave(a, b), (a, b)

    # clustering property: order 4096 (x, y) grid points by z-key, cut into
    # 16 chunks; per-chunk x/y ranges must be far tighter than under an
    # x-only sort's y ranges (which span the whole domain).
    import itertools
    pts = list(itertools.product(range(64), range(64)))
    pdf = spark.createDataFrame(pts, ["x", "y"]).select(
        "x", "y", zorder_key_2d("x", "y", a_max=63, b_max=63).alias("z")
    )
    rows = sorted(pdf.collect(), key=lambda r: r["z"])
    chunk = len(rows) // 16
    spans = []
    for i in range(16):
        part = rows[i * chunk : (i + 1) * chunk]
        xs = [r["x"] for r in part]
        ys = [r["y"] for r in part]
        spans.append(max(max(xs) - min(xs), max(ys) - min(ys)))
    # every z-chunk spans at most a quarter of either axis; an x-sorted
    # layout would give y spans of 63 in every chunk
    assert max(spans) <= 31, spans


def test_write_zordered_tightens_file_stats(spark, tmp_path):
    """Z-ordered parquet files must carry tight per-file min/max on BOTH
    clustered columns (verified from parquet footer statistics via
    pyarrow) — the property row-group/file skipping depends on."""
    import itertools
    import pyarrow.parquet as pq
    from pathlib import Path
    from manufacturing_data_integration_tool_spark.functions.layout import write_zordered

    pts = list(itertools.product(range(64), range(64)))
    df = spark.createDataFrame(pts, ["x", "y"])
    out = tmp_path / "zordered"
    write_zordered(df, str(out), "x", "y", n_files=16, a_max=63, b_max=63)

    spans = []
    for f in Path(out).glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
        mins, maxs = {}, {}
        for rg in range(md.num_row_groups):
            for ci, name in enumerate(schema_names):
                st = md.row_group(rg).column(ci).statistics
                if st is None:
                    continue
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
        if mins:
            spans.append(max(maxs["x"] - mins["x"], maxs["y"] - mins["y"]))
    assert spans, "no parquet files written"
    # every file covers at most ~a quarter of either axis; an unsorted or
    # x-only-sorted write leaves y spanning the full 63 in every file
    assert max(spans) <= 31, spans


def test_fuzzy_key_pairs_hot_block_guard(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import fuzzy_key_pairs

    # 30 keys share the 'aa' block; cap at 10 drops the whole hot block
    rows = [(i, f"aa{i:03d}") for i in range(30)] + [(100, "zz1"), (101, "zz2")]
    df = spark.createDataFrame(rows, ["id", "name"])
    out = fuzzy_key_pairs(df, "name", max_dist=2, block_chars=2, max_block=10).collect()
    assert {(r["key_a"], r["key_b"]) for r in out} == {("zz1", "zz2")}
    # uncapped, the hot block contributes pairs
    full = fuzzy_key_pairs(df, "name", max_dist=2, block_chars=2, max_block=None)
    assert full.count() > 1


def test_sketch_rollup_merge_consistent_and_accurate(spark):
    """q108's two-level sketch rollup must agree with the single-level
    sketch within 1% (register-max merging is exact at small cardinality
    — equal here — but the DataSketches union path promotes
    representation and can drift a few per-mille at scale: the r7 q264
    audit caught exactly that at sf0.1, roll 1488 vs single 1494 on
    1500 exact) and land within 2% of the exact distinct count."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rolled = {
        r["event_type"]: r["n_users_approx"]
        for r in entry.q108_sketch_rollup(spark, sf).collect()
    }
    single = {
        r["event_type"]: r["n_users_approx"]
        for r in entry.q74_hll_distinct(spark, sf).collect()
    }
    for k in single:
        # exact at this tiny sf; the audit bound is 1% (see docstring)
        assert abs(rolled[k] - single[k]) <= max(1, single[k] // 100), (
            k, rolled[k], single[k])
    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    ev = read_table(spark, sf, "events")
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("d")).collect()
    }
    for k, d in exact.items():
        assert abs(rolled[k] - d) / d < 0.02, (k, rolled[k], d)


def test_review_fixes_regressions(spark):
    """Pin the code-review fixes: shingle-cap boundary validation, empty
    scrub pattern list, in-place normalize accounting, doc_a/doc_b
    candidate frames, separate-namespace knn self-filter."""
    import pytest as _pytest
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        embedding_near_dups,
        ngram_jaccard_pairs,
    )
    from manufacturing_data_integration_tool_spark.ops.similarity import knn_classify
    from manufacturing_data_integration_tool_spark.ops.text import normalize_text, scrub_text

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")], ["doc_id", "text"]
    )
    # float 1.0 = relative 100% cap -> keeps everything (pair 1-2 found)
    assert ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5,
                               max_shingle_df=1.0).count() == 1
    with _pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, "doc_id", "text", max_shingle_df=0.0)
    with _pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, "doc_id", "text", max_shingle_df=0)

    # empty scrub pattern list: text unchanged, zero redactions
    out = scrub_text(docs, "text", patterns=()).collect()
    assert all(r["n_redactions"] == 0 and r["text_scrubbed"] == r["text"] for r in out)

    # in-place normalization still accounts removed chars
    messy = spark.createDataFrame([(1, "A!!  b")], ["doc_id", "text"])
    r = normalize_text(messy, "text", out_col="text").collect()[0]
    assert r["text"] == "a b" and r["n_chars_removed"] == 3

    # doc_a/doc_b candidate frames compose with embedding_near_dups
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], ["doc_a", "doc_b"])
    pairs = embedding_near_dups(vecs, threshold=0.9, candidates=cand).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]

    # separate query-id namespace: an id collision must NOT drop a neighbor
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], "A"), (1, [0.0, 1.0], "B")], ["vec_id", "embedding", "label"]
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0])], ["query_id", "embedding"])
    got = knn_classify(corpus, queries, k=1, query_id_col="query_id").collect()
    assert got[0]["pred_label"] == "A"  # vec_id==0 row must still be eligible


# ---------------------------------------------------------------------------
# containment dedup / BPE / merge / skew profile (round-4 operators)
# ---------------------------------------------------------------------------


def test_containment_pairs_finds_doc_inside_doc(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import containment_pairs

    inner = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    outer = (
        "prologue text that is much longer and entirely unrelated padding "
        + inner
        + " epilogue with more unrelated trailing filler words here"
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=inner),
            Row(doc_id=2, text=outer),
            Row(doc_id=3, text="совершенно другой текст без общих подстрок"),
        ]
    )
    rows = containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    # every fingerprint of the inner doc appears in the outer doc
    assert r["containment_a"] == 1.0
    # but the pair is far from symmetric — Jaccard would have missed it
    assert r["containment_b"] < 0.8


def test_containment_pairs_hot_fp_cap_validates(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import containment_pairs

    df = spark.createDataFrame([Row(doc_id=1, text="abcdefghijkl")])
    with pytest.raises(ValueError):
        containment_pairs(df, "doc_id", "text", max_fp_df=1.5)
    with pytest.raises(ValueError):
        containment_pairs(df, "doc_id", "text", max_fp_df=0)


def _ref_bpe(words, n_merges):
    """Pure-Python greedy BPE (Sennrich et al.) — the spec twin."""
    from collections import Counter

    vocab = {}
    for w, c in Counter(words).items():
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + c
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, c in vocab.items():
            for i in range(len(w) - 1):
                pc[(w[i], w[i + 1])] += c
        if not pc:
            break
        mx = max(pc.values())
        best = min(p for p, c in pc.items() if c == mx)
        merges.append(best)
        l, r = best
        nv = {}
        for w, c in vocab.items():
            nw, i = [], 0
            while i < len(w):
                if i < len(w) - 1 and w[i] == l and w[i + 1] == r:
                    nw.append(l + r)
                    i += 2
                else:
                    nw.append(w[i])
                    i += 1
            nv[tuple(nw)] = nv.get(tuple(nw), 0) + c
        vocab = nv
    return merges


def test_bpe_train_matches_pure_python_reference(spark):
    from manufacturing_data_integration_tool_spark.ops.text import bpe_train

    corpus = "low low low lower lowest newest newest newest widest wide wide"
    df = spark.createDataFrame([Row(text=corpus), Row(text="low newest widest")])
    got = bpe_train(df, "text", n_merges=8)
    want = _ref_bpe((corpus + " low newest widest").split(), 8)
    assert got == want


def test_bpe_train_batched_equals_serial(spark):
    """Merge batching (r4 verdict #3) must be a pure job-count
    optimization: batch_size=8 learns byte-identical merges to the
    one-merge-per-job loop AND to the pure-Python serial reference."""
    from manufacturing_data_integration_tool_spark.ops.text import bpe_train

    corpus = (
        "the quick brown fox jumps over the lazy dog "
        "the quicker browner foxes jumped over those lazier dogs "
        "pack packing packed packs unpack unpacked repack "
        "low lower lowest newest newer new wide wider widest"
    )
    df = spark.createDataFrame([Row(text=corpus), Row(text="the pack low wide")])
    serial = bpe_train(df, "text", n_merges=12, batch_size=1)
    batched = bpe_train(df, "text", n_merges=12, batch_size=8)
    assert batched == serial
    assert batched == _ref_bpe((corpus + " the pack low wide").split(), 12)
    assert len(batched) == 12


def test_char_pair_counts_weighted_by_word_freq(spark):
    from manufacturing_data_integration_tool_spark.ops.text import char_pair_counts

    df = spark.createDataFrame([Row(text="aa aa ab x")])  # 'x' has no pair
    got = {r["pair"]: r["pair_count"] for r in char_pair_counts(df, "text").collect()}
    assert got == {"aa": 2, "ab": 1}


def test_merge_upsert_update_insert_delete(spark):
    from manufacturing_data_integration_tool_spark.functions.merge import merge_upsert

    target = spark.createDataFrame(
        [Row(k=1, v="a", extra=10), Row(k=2, v="b", extra=20), Row(k=3, v="c", extra=30)]
    )
    source = spark.createDataFrame(
        [
            Row(k=2, v="B2", is_del=False),   # update (NULL-able extra untouched)
            Row(k=3, v=None, is_del=True),    # delete
            Row(k=9, v="new", is_del=False),  # insert
        ]
    )
    got = {
        r["k"]: (r["v"], r["extra"])
        for r in merge_upsert(target, source, ["k"], delete_col="is_del").collect()
    }
    assert got == {1: ("a", 10), 2: ("B2", 20), 9: ("new", None)}


def test_merge_upsert_no_insert_and_key_check(spark):
    from manufacturing_data_integration_tool_spark.functions.merge import merge_upsert

    target = spark.createDataFrame([Row(k=1, v="a")])
    source = spark.createDataFrame([Row(k=9, v="new")])
    got = merge_upsert(target, source, ["k"], insert_unmatched=False).collect()
    assert [r["k"] for r in got] == [1]
    with pytest.raises(ValueError):
        merge_upsert(target, spark.createDataFrame([Row(x=1)]), ["k"])


def test_key_skew_profile_orders_and_shares(spark):
    from manufacturing_data_integration_tool_spark.functions.skew import key_skew_profile

    df = spark.createDataFrame(
        [Row(k="hot")] * 6 + [Row(k="warm")] * 3 + [Row(k="cold")]
    )
    rows = key_skew_profile(df, ["k"], top_n=2).collect()
    assert [(r["k"], r["n"], r["total_rows"], r["share"]) for r in rows] == [
        ("hot", 6, 10, 0.6),
        ("warm", 3, 10, 0.3),
    ]
    with pytest.raises(ValueError):
        key_skew_profile(df, [])


def test_write_bucketed_helper_join_without_shuffle(spark, tmp_path):
    from manufacturing_data_integration_tool_spark.functions.layout import write_bucketed

    left = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 500).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "t_wb_left", ["k"], 4, sort_cols=["k"])
    write_bucketed(right, "t_wb_right", ["k"], 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_wb_left").join(spark.table("t_wb_right"), "k")
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        assert "Exchange hashpartitioning" not in buf.getvalue()
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_wb_left")
        spark.sql("DROP TABLE IF EXISTS t_wb_right")


def test_compact_small_files(spark, tmp_path):
    from manufacturing_data_integration_tool_spark.functions.layout import (
        compact_small_files,
    )

    src = str(tmp_path / "small")
    dest = str(tmp_path / "compacted")
    # 32 tiny files
    spark.range(0, 3200).repartition(32).write.parquet(src)
    import glob

    n_src = len(glob.glob(src + "/part-*"))
    assert n_src == 32
    n_out = compact_small_files(spark, src, dest, target_file_bytes=64 * 1024 * 1024)
    assert n_out == 1  # a few KB of data fits one 64 MB target file
    assert len(glob.glob(dest + "/part-*")) == 1
    assert spark.read.parquet(dest).count() == 3200


def test_segment_dedup_keeps_first_occurrence(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import segment_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared boiler plate"),
            (2, "shared boiler plate\n\ngamma delta"),
            (3, "shared boiler plate"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup(df, delimiter=r"\n\n").collect()
    }
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    # doc 2 and 3 lose the boilerplate paragraph doc 1 introduced
    assert out[2]["n_kept"] == 1 and out[2]["dedup_text"] == "gamma delta"
    assert out[3]["n_kept"] == 0 and out[3]["dedup_text"] == ""


def test_segment_dedup_token_windows_reassemble_in_order(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import segment_dedup

    df = spark.createDataFrame([(7, "a b c d e f g")], ["doc_id", "text"])
    row = segment_dedup(df, tokens_per_segment=3).collect()[0]
    # 3 windows: "a b c", "d e f", "g" — all unique, original order kept
    assert row["n_segments"] == 3 and row["n_kept"] == 3
    assert row["dedup_text"] == "a b c d e f g"


def test_gopher_quality_flags_rules(spark):
    from manufacturing_data_integration_tool_spark.ops.text import gopher_quality_flags

    good = "the quick brown fox jumps with vigor and " + " ".join(
        f"word{i}" for i in range(50)
    )
    short = "the end"
    symbols = "the # " + " ".join("#" * 1 for _ in range(60)) + " of it all"
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(df, min_words=10).collect()}
    assert out[1]["passes_gopher"]
    assert not out[2]["ok_words"] and not out[2]["passes_gopher"]
    assert not out[3]["ok_symbol_ratio"] and not out[3]["ok_alpha_ratio"]


def test_char_entropy_matches_math(spark):
    import math

    from manufacturing_data_integration_tool_spark.ops.text import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, "aabb")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["char_entropy"] for r in char_entropy(df).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - math.log(4)) < 1e-6
    assert abs(out[3] - math.log(2)) < 1e-6


def test_frequent_terms_exact_and_pruned(spark):
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops.text import frequent_terms

    # long-tail corpus: 'hot' appears 40x, 'warm' 10x, tail words once each
    rows = [(i, "hot " * 4 + f"tail{i}") for i in range(10)] + [
        (100 + i, "warm tailx%d" % i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)
    got = {r["term"]: r["n"] for r in frequent_terms(df, min_count=10).collect()}
    assert got == {"hot": 40, "warm": 10}
    # exactness is independent of the local bar (superset guarantee):
    # force a degenerate bar of 1 (all terms candidate) and compare
    loose = {
        r["term"]: r["n"]
        for r in frequent_terms(df, min_count=10, force_local_threshold=1).collect()
    }
    assert loose == got
    # SOUNDNESS under an underestimated partition count: n_partitions=1
    # against 4 real partitions makes the initial pigeonhole bar too high
    # (ceil(10/1)=10 > any single partition's 'warm' count); the marker
    # probe must detect this and re-run with the measured P rather than
    # silently dropping 'warm'.
    corrected = {
        r["term"]: r["n"]
        for r in frequent_terms(df, min_count=10, n_partitions=1).collect()
    }
    assert corrected == got


def test_frequent_terms_matches_plain_groupby(spark):
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops.text import frequent_terms, tokenize

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {r["term"]: r["n"] for r in frequent_terms(docs, min_count=50).collect()}
    want = {
        r["term"]: r["n"]
        for r in docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
        .collect()
    }
    assert got == want and len(got) > 0


def test_bpe_encode_matches_python_twin(spark):
    from manufacturing_data_integration_tool_spark.ops.text import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer newest"), (3, "low new")],
        ["doc_id", "text"],
    )
    merges = bpe_train(df, n_merges=6)
    alphabet = sorted({c for _, t in [(1, "low lower lowest new newer newest")] for c in t if c != " "})

    def enc_word(word):
        syms = list(word)
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    vocab = {}
    for ch in sorted(set(alphabet)):
        vocab[ch] = len(vocab)
    for l, r in merges:
        if l + r not in vocab:
            vocab[l + r] = len(vocab)

    got = {r["doc_id"]: r for r in bpe_encode(df, merges, alphabet).collect()}
    for doc_id, text in [(1, "low lower lowest"), (2, "new newer newest"), (3, "low new")]:
        want = [vocab.get(s, -1) for w in text.split() for s in enc_word(w)]
        assert list(got[doc_id]["token_ids"]) == want
        assert got[doc_id]["n_tokens"] == len(want)


def test_pca_fit_project_matches_numpy(spark):
    import numpy as np

    from manufacturing_data_integration_tool_spark.ops.similarity import pca_fit, pca_project

    rng = np.random.default_rng(11)
    # anisotropic 6-dim data: variance concentrated in 2 directions
    base = rng.normal(size=(200, 2)) @ rng.normal(size=(2, 6)) * 3
    x = base + rng.normal(size=(200, 6)) * 0.1
    rows = [(i, [float(v) for v in x[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(4)

    mean, comps, ev = pca_fit(df, "embedding", k=2)
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    for j, comp in enumerate(comps):
        v_ref = evecs[:, np.argsort(evals)[::-1][j]]
        # eigenvector up to sign
        assert min(np.abs(np.asarray(comp) - v_ref).max(),
                   np.abs(np.asarray(comp) + v_ref).max()) < 1e-8
    assert ev[0] >= ev[1] > 0
    out = pca_project(df, mean, comps, "embedding").orderBy("vec_id").collect()
    proj_ref = (x - x.mean(axis=0)) @ np.asarray(comps).T
    got = np.asarray([r["pca"] for r in out])
    assert np.abs(got - proj_ref[np.argsort([r["vec_id"] for r in out])]).max() < 1e-5


def test_pca_moments_reduces_to_one_row_spark_side(spark):
    """The driver must receive exactly ONE (n, s, g) row however many
    input partitions exist — the r4 verdict's scale demand (the old
    single-level collect shipped one partial per partition)."""
    import numpy as np

    from manufacturing_data_integration_tool_spark.ops.similarity import pca_moments

    rng = np.random.default_rng(3)
    x = rng.normal(size=(64, 5))
    rows = [(i, [float(v) for v in x[i]]) for i in range(64)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(16)
    # small fan_in forces both combine levels to do real merging
    out = pca_moments(df, "embedding", fan_in=4).collect()
    assert len(out) == 1
    assert out[0]["n"] == 64
    assert np.allclose(out[0]["s"], x.sum(axis=0), atol=1e-9)
    assert np.allclose(
        np.asarray(out[0]["g"]).reshape(5, 5), x.T @ x, atol=1e-8
    )


# ---------------------------------------------------------------------------
# round-4 wave 2: BM25, C4 line filter, encoding screen, overlap matrix,
# drift, LM quality filter, prefix-filtered Jaccard, weighted percentile
# ---------------------------------------------------------------------------


def test_bm25_ranking_and_rank_column(spark):
    from manufacturing_data_integration_tool_spark.ops.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark merge merge merge filler filler"),
            (2, "merge once in a long document " + "pad " * 40),
            (3, "nothing relevant here at all"),
            (4, "merge stream merge stream short"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, ["merge", "stream"], k=10).orderBy("rank").collect()
    # doc 3 has no query terms -> absent; doc 4 hits both terms
    assert [r.doc_id for r in out][0] == 4
    assert {r.doc_id for r in out} == {1, 2, 4}
    assert [r.rank for r in out] == [1, 2, 3]
    ranked = sorted(out, key=lambda r: -r.bm25)
    assert [r.doc_id for r in ranked] == [r.doc_id for r in out]
    # tf saturation + length normalization: doc1 (tf=3, short) beats doc2
    # (tf=1, long)
    d = {r.doc_id: r.bm25 for r in out}
    assert d[1] > d[2]


def test_bm25_topk_multi_matches_per_query_calls(spark):
    # r12 optimization: the shared-scan battery operator must be
    # row-identical (scores, ranks, hit counts) to one bm25_topk per query.
    from manufacturing_data_integration_tool_spark.ops.text import (
        bm25_topk,
        bm25_topk_multi,
    )

    df = spark.createDataFrame(
        [
            (1, "spark merge merge merge filler filler"),
            (2, "merge once in a long document " + "pad " * 40),
            (3, "nothing relevant here at all"),
            (4, "merge stream merge stream short"),
            (5, "stream stream stream window window"),
            (6, "window filter merge stream window"),
        ],
        "doc_id long, text string",
    )
    battery = [
        ("q1", ["merge", "stream"]),
        ("q2", ["window"]),
        ("q3", ["filter", "merge", "stream", "window"]),
    ]
    multi = {
        (r.qid, r.doc_id): (r.rank, r.n_query_terms_hit, r.bm25)
        for r in bm25_topk_multi(df, battery, k=3).collect()
    }
    single = {}
    for qid, terms in battery:
        for r in bm25_topk(df, terms, k=3).collect():
            single[(qid, r.doc_id)] = (r.rank, r.n_query_terms_hit, r.bm25)
    assert multi == single


def test_bm25_topk_multi_empty_battery_raises(spark):
    import pytest as _pytest

    from manufacturing_data_integration_tool_spark.ops.text import bm25_topk_multi

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bm25_topk_multi(df, [])
    with _pytest.raises(ValueError):
        bm25_topk_multi(df, [("q1", [])])


def test_bm25_empty_query_raises(spark):
    import pytest as _pytest

    from manufacturing_data_integration_tool_spark.ops.text import bm25_topk

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bm25_topk(df, [])


def test_c4_line_filter_newline_mode_rules(spark):
    from manufacturing_data_integration_tool_spark.ops.text import c4_line_filter

    df = spark.createDataFrame(
        [
            (
                1,
                "this line has five good words\n"
                "too short\n"
                "enable javascript to view this page\n"
                "object = { key: value } with words\n"
                "another perfectly fine line of text",
            ),
            (2, "all lines\nare tiny\nhere"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in c4_line_filter(df, line_sep=r"\n", min_words=5).collect()
    }
    assert out[1].n_lines == 5
    assert out[1].n_kept == 2
    assert out[1].clean_text == (
        "this line has five good words\nanother perfectly fine line of text"
    )
    assert out[2].n_kept == 0 and out[2].clean_text == ""


def test_c4_line_filter_token_window_mode_matches_manual(spark):
    from manufacturing_data_integration_tool_spark.ops.text import c4_line_filter

    words = [f"w{i}" for i in range(30)]
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = c4_line_filter(df, tokens_per_line=12, min_words=5).collect()[0]
    # windows: 12 + 12 + 6 tokens -> last window (6 words) passes min_words=5
    assert out.n_lines == 3 and out.n_kept == 3
    assert out.clean_text == " ".join(words)
    out2 = c4_line_filter(df, tokens_per_line=12, min_words=7).collect()[0]
    assert out2.n_kept == 2
    assert out2.clean_text == " ".join(words[:24])


def test_encoding_screen_flags_and_ratios(spark):
    from manufacturing_data_integration_tool_spark.ops.text import encoding_screen

    df = spark.createDataFrame(
        [
            (1, "clean ascii text 123"),
            (2, "bad \x07 control"),
            (3, "moji�bake"),
            (4, "café latte"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in encoding_screen(df).collect()}
    assert out[1].ok_encoding and out[1].ascii_width
    assert out[1].n_ws == 3 and out[1].digit_ratio > 0
    assert out[2].n_control == 1 and not out[2].ok_encoding
    assert out[3].n_replacement == 1 and not out[3].ok_encoding
    # multi-byte char: byte width exceeds char width but encoding is fine
    assert out[4].n_bytes > out[4].n_chars and not out[4].ascii_width
    assert out[4].ok_encoding


def test_source_overlap_matrix_counts(spark):
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        source_overlap_matrix,
    )

    seg_a = "a b c d e f g h"          # shared by src1 and src2
    seg_b = "p q r s t u v w"          # src1 only
    seg_c = "k l m n o p q r"          # src2 only
    df = spark.createDataFrame(
        [
            (1, seg_a + " " + seg_b, "src1"),
            (2, seg_a + " " + seg_c, "src2"),
            (3, seg_a, "src2"),        # duplicate segment within source: distinct
        ],
        "doc_id long, text string, source string",
    )
    out = source_overlap_matrix(df, tokens_per_segment=8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.source_a, r.source_b) == ("src1", "src2")
    assert r.inter == 1 and r.n_a == 2 and r.n_b == 2
    assert abs(r.overlap_coef - 0.5) < 1e-9


def test_unigram_drift_identical_groups_near_zero(spark):
    from manufacturing_data_integration_tool_spark.ops.text import unigram_drift

    same = "alpha beta gamma delta alpha beta"
    df = spark.createDataFrame(
        [(1, same, "s1"), (2, same, "s2")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r.kl_divergence for r in unigram_drift(df).collect()}
    # identical groups: only add-1 smoothing bias remains (different group
    # vs corpus totals), well under any drift-alarm threshold — and
    # symmetric across the two groups
    assert abs(out["s1"]) < 0.01 and abs(out["s2"]) < 0.01
    assert out["s1"] == out["s2"]

    skewed = spark.createDataFrame(
        [(1, "alpha alpha alpha alpha", "s1"), (2, "beta gamma delta zeta", "s2")],
        "doc_id long, text string, source string",
    )
    out2 = {r.source: r.kl_divergence for r in unigram_drift(skewed).collect()}
    # pure-python mirror of the add-1 smoothed KL over the shared vocab
    assert out2["s1"] == 0.059659 and out2["s2"] == 0.188898
    assert out2["s2"] > out2["s1"] > out["s1"]  # drift orders sensibly


def test_bigram_doc_logprob_favors_in_distribution_text(spark):
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops.text import bigram_doc_logprob

    train = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, train, "train"),
            (2, train, "train"),
            (3, "the quick brown fox", "score"),   # seen bigrams
            (4, "dog lazy over jumps", "score"),   # reversed: unseen bigrams
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in bigram_doc_logprob(
            df, train_predicate=F.col("source") == "train", cutoff=-3.0
        ).collect()
    }
    assert out[3].avg_logp > out[4].avg_logp
    assert out[3].n_bigrams == 3
    # single-token/empty docs yield no row
    single = spark.createDataFrame(
        [(1, "word word", "train"), (9, "solo", "s")],
        "doc_id long, text string, source string",
    )
    got = bigram_doc_logprob(
        single, train_predicate=F.col("source") == "train"
    ).collect()
    assert {r.doc_id for r in got} == {1}


def test_prefix_filtered_jaccard_matches_full_inverted_join(spark, sf_dir):
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard,
    )
    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    for t in (0.3, 0.5, 0.8):
        full = {
            (r.doc_a, r.doc_b, r.inter, r.n_a, r.n_b)
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        pref = {
            (r.doc_a, r.doc_b, r.inter, r.n_a, r.n_b)
            for r in prefix_filtered_jaccard(
                docs, "doc_id", "text", n=3, threshold=t
            ).collect()
        }
        assert pref == full, f"threshold {t}: prefix filtering changed the answer"


def test_weighted_percentile_hand_computed(spark):
    from manufacturing_data_integration_tool_spark.ops.sampling import (
        weighted_percentile,
    )

    # group g: values 10(w=1), 20(w=1), 30(w=8) -> weighted median = 30
    # unweighted median would be 20; group h: uniform weights -> 2nd of 3
    df = spark.createDataFrame(
        [
            ("g", 10, 1.0),
            ("g", 20, 1.0),
            ("g", 30, 8.0),
            ("h", 5, 1.0),
            ("h", 6, 1.0),
            ("h", 7, 1.0),
        ],
        "grp string, v int, w double",
    )
    out = {
        r.grp: r
        for r in weighted_percentile(df, ["grp"], "v", "w", fraction=0.5).collect()
    }
    assert out["g"].wpct == 30 and out["g"].total_w == 10.0
    assert out["h"].wpct == 6
    # fraction=1.0 -> max value; duplicate values collapse first
    out2 = {
        r.grp: r.wpct
        for r in weighted_percentile(df, ["grp"], "v", "w", fraction=1.0).collect()
    }
    assert out2 == {"g": 30, "h": 7}


def test_prefix_filtered_jaccard_random_corpus_equivalence(spark):
    import random

    from manufacturing_data_integration_tool_spark.ops.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard,
    )

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(120):
        n = rng.randrange(4, 40)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # inject heavy near-dup structure: clones with small edits
    for i in range(120, 160):
        base = rows[i % 40][1].split()
        j = rng.randrange(len(base))
        base[j] = rng.choice(vocab)
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.4, 0.7):
        full = {
            tuple(r) for r in ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=t).collect()
        }
        pref = {
            tuple(r)
            for r in prefix_filtered_jaccard(df, "doc_id", "text", n=3, threshold=t).collect()
        }
        assert pref == full, f"threshold {t}"


def test_text_and_dedup_ops_survive_edge_case_corpus(spark):
    """Null text, empty string, whitespace-only, single token, and unicode
    rows must not crash any documents-table operator, and per-doc outputs
    must stay sane (no negative counts, no nulls where the contract says
    none)."""
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops import dedup as dd
    from manufacturing_data_integration_tool_spark.ops import text as tx

    df = spark.createDataFrame(
        [
            (1, None, "en", "s0"),
            (2, "", "en", "s0"),
            (3, "   \t  ", "en", "s1"),
            (4, "solo", "en", "s1"),
            (5, "café königsberg 東京 word word", "de", "s1"),
            (6, "normal words appear here repeatedly words appear", "en", "s0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    # ops returning one row per (non-empty) doc
    assert tx.encoding_screen(df).count() == 6
    c4 = tx.c4_line_filter(df, tokens_per_line=3, min_words=1)
    assert c4.filter(F.col("n_kept") < 0).count() == 0
    gq = tx.gopher_quality_flags(df, min_words=1, min_stopword_hits=0)
    assert gq.count() >= 4  # null/empty docs may drop out
    assert tx.char_entropy(df).filter(F.col("char_entropy") < 0).count() == 0
    # corpus-level ops
    assert tx.unigram_drift(df).count() == 2  # two sources with tokens
    lm = tx.bigram_doc_logprob(df, train_predicate=F.col("source") == "s0")
    assert {r.doc_id for r in lm.collect()} <= {5, 6}  # only multi-token docs
    assert tx.bm25_topk(df, ["words", "café"], k=5).count() >= 1
    # dedup family
    assert dd.source_overlap_matrix(df, tokens_per_segment=2).count() >= 0
    assert dd.prefix_filtered_jaccard(df, "doc_id", "text", n=2, threshold=0.5).count() >= 0
    assert dd.segment_dedup(df, tokens_per_segment=2).count() >= 3
    assert dd.simhash_near_dups(df, "doc_id", "text").count() >= 0


def test_write_range_sorted_files_are_disjoint_and_ordered(spark, tmp_path):
    """Global range-sort layout: part files (in name order after sorting
    by min) hold disjoint, ordered key ranges and every file is locally
    sorted — verified from the data itself."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from manufacturing_data_integration_tool_spark.functions.layout import (
        write_range_sorted,
    )

    df = spark.range(0, 5000).selectExpr(
        "pmod(hash(id), 1000) AS quality", "id AS doc_id"
    )
    out = tmp_path / "sorted"
    write_range_sorted(df, ["quality", "doc_id"], str(out), n_files=6)
    parts = sorted(Path(out).glob("part-*.parquet"))
    assert len(parts) >= 4  # range partitioner may merge tiny ranges
    ranges = []
    for p in parts:
        t = pq.read_table(p, columns=["quality"]).to_pydict()["quality"]
        if not t:
            continue
        assert t == sorted(t), f"{p.name} not locally sorted"
        ranges.append((min(t), max(t)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file key ranges overlap"
    # nothing lost
    total = sum(
        pq.read_table(p, columns=["doc_id"]).num_rows for p in parts
    )
    assert total == 5000


def test_rake_keywords_textbook_scoring(spark):
    """'deep learning' phrases beat lone words: degree/freq favors words
    that co-occur in long phrases. Integer scores: with phrases
    {'deep learning', 'deep learning systems', 'linear'} x1 each,
    deep: freq 2 deg 5; learning: freq 2 deg 5; systems: freq 1 deg 3;
    linear: freq 1 deg 1 -> score('deep learning systems') =
    2*floor(2.5e6) + 3e6 = 8e6."""
    from manufacturing_data_integration_tool_spark.ops.text import (
        rake_keywords,
    )

    df = spark.createDataFrame(
        [
            (1, "s", "deep learning, and the deep learning systems."),
            (2, "s", "linear!"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["phrase"]: r for r in rake_keywords(
        df, "doc_id", "text", group_cols=["source"], top_k=10
    ).collect()}
    assert out["deep learning systems"]["score_x1e6"] == 8_000_000
    assert out["deep learning"]["score_x1e6"] == 5_000_000
    assert out["linear"]["score_x1e6"] == 1_000_000
    assert out["deep learning"]["occurrences"] == 1


def test_good_turing_counts_exact(spark):
    """Terms {a:3, b:1, c:1, d:2} -> N_1=2, N_2=1, N_3=1:
    r*=1: 2*1*1e6//2 = 1e6; r*=2: 3*1*1e6//1 = 3e6; r=3 has no N_4."""
    from manufacturing_data_integration_tool_spark.ops.text import (
        good_turing_counts,
    )

    df = spark.createDataFrame(
        [(1, "x", "a a a b"), (2, "x", "c d d")],
        "doc_id long, lang string, text string",
    )
    out = {r["r"]: r for r in good_turing_counts(
        df, "text", group_cols=["lang"]
    ).collect()}
    assert (out[1]["n_r"], out[1]["n_r_next"], out[1]["r_star_x1e6"]) == (2, 1, 1_000_000)
    assert (out[2]["n_r"], out[2]["n_r_next"], out[2]["r_star_x1e6"]) == (1, 1, 3_000_000)
    assert (out[3]["n_r"], out[3]["n_r_next"], out[3]["r_star_x1e6"]) == (1, 0, 0)
    # bigram mode: doc1 bigrams {a a: 2, a b: 1}, doc2 {c d: 1, d d: 1}
    # -> N_1 = 3, N_2 = 1; r*=1: 2*1*1e6 // 3
    out2 = {r["r"]: r for r in good_turing_counts(
        df, "text", group_cols=["lang"], ngram=2
    ).collect()}
    assert (out2[1]["n_r"], out2[1]["r_star_x1e6"]) == (3, 666_666)
    assert (out2[2]["n_r"], out2[2]["n_r_next"]) == (1, 0)


def test_burrows_delta_zero_and_positive(spark):
    """Two sources with IDENTICAL word profiles have delta 0 against
    each other's copy; a third with a shifted profile is farther from
    both, symmetric, and the full lattice (absent words = 0) is used."""
    from manufacturing_data_integration_tool_spark.ops.text import (
        burrows_delta,
    )

    df = spark.createDataFrame(
        [
            (1, "s1", "alpha alpha beta"),
            (2, "s2", "alpha alpha beta"),
            (3, "s3", "gamma gamma gamma delta"),
        ],
        "doc_id long, source string, text string",
    )
    out = {(r["group_a"], r["group_b"]): r for r in burrows_delta(
        df, "source", "text", top_n=10
    ).collect()}
    assert out[("s1", "s2")]["delta_x1e9"] == 0
    assert out[("s1", "s3")]["delta_x1e9"] > 0
    assert out[("s1", "s3")]["delta_x1e9"] == out[("s2", "s3")]["delta_x1e9"]
    assert out[("s1", "s2")]["n_words"] == 4  # full lattice: 4 distinct words


def test_zipf_fit_exact_inverse_rank_corpus(spark):
    """freq exactly proportional to 1/rank -> slope -1 (lattice noise
    only); deterministic tie-break pins the rank order."""
    from manufacturing_data_integration_tool_spark.ops.text import zipf_fit

    words = {"aa": 60, "bb": 30, "cc": 20, "dd": 15, "ee": 12}  # 60/rank
    text = " ".join(w for w, c in words.items() for _ in range(c))
    df = spark.createDataFrame([("en", 1, text)], "lang string, doc_id long, text string")
    out = zipf_fit(df, "text", group_cols=["lang"], top_n=5, min_count=1).collect()
    assert len(out) == 1 and out[0]["n_used"] == 5
    assert abs(out[0]["slope_x1e6"] - (-1_000_000)) <= 5


def test_heaps_fit_matches_python_twin(spark):
    """beta from the operator equals a pure-Python recompute of the
    same lattice-ln OLS over the cumulative (tokens, vocab) series."""
    import math

    from manufacturing_data_integration_tool_spark.ops.text import heaps_fit

    docs = [
        (1, "a b c d"),
        (2, "a b e f g"),
        (3, "a h i"),
        (4, "b c j k l m"),
        (5, "a b c"),
    ]
    df = spark.createDataFrame(
        [("en", i, t) for i, t in docs], "lang string, doc_id long, text string"
    )
    out = heaps_fit(df, "doc_id", "text", group_cols=["lang"]).collect()[0]

    seen, cum_t, pts = set(), 0, []
    for _, text in docs:
        toks = text.split()
        cum_t += len(toks)
        seen |= set(toks)
        pts.append((cum_t, len(seen)))
    lat = lambda v: math.floor(round(math.log(v), 9) * 1e9 + 0.5)  # noqa: E731
    xs = [lat(x) for x, _ in pts]
    ys = [lat(y) for _, y in pts]
    n = len(pts)
    num = n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
    den = n * sum(a * a for a in xs) - sum(xs) ** 2
    expected = math.floor(num / den * 1e6 + 0.5)
    assert out["n_used"] == n and out["slope_x1e6"] == expected
    assert 0 < out["slope_x1e6"] < 1_000_000  # 0 < beta < 1


def test_screen_flags_matches_op_composition(spark):
    """r13 one-scan screen-battery fusion: _screen_flags must be
    BIT-IDENTICAL to the op-composed join construction the
    q257/q278/q298/q339 agreement family used — including the edge rows
    (NULL text -> NULL gopher pass / False flesch; zero-letter text ->
    flesch drops the row, the left join supplied False; empty text)."""
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops.text import (
        _screen_flags,
        char_entropy,
        flesch_reading_ease,
        gopher_quality_flags,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and that have "
            "with be to of and more words here to pass the word floor "
            "plus extra filler tokens making this document long enough "
            "for the gopher minimum word count rule to pass easily now"),
        (2, "123 456. 789!"),          # zero [a-z] words: flesch drops it
        (3, ""),                        # empty text
        (4, None),                      # NULL text
        (5, "### ... … ### short"),     # symbol-heavy
        (6, "aaaa eeee iiii oooo uuuu yyyy. vowel soup sentence two!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    a = gopher_quality_flags(docs, min_words=30, min_stopword_hits=1).select(
        "doc_id", F.col("passes_gopher").alias("__a")
    )
    b = flesch_reading_ease(docs, "text").select(
        "doc_id", (F.col("flesch_x1000") >= 50_000).alias("__b")
    )
    c = char_entropy(docs).select(
        "doc_id", (F.col("char_entropy") >= 3.0).alias("__c")
    )
    composed = {
        r["doc_id"]: (r["__a"], r["__b"], r["__c"])
        for r in a.join(b, "doc_id", "left")
        .join(c, "doc_id", "left")
        .select(
            "doc_id",
            "__a",
            F.coalesce(F.col("__b"), F.lit(False)).alias("__b"),
            "__c",
        )
        .collect()
    }
    fused = {
        r["doc_id"]: (r["__a"], r["__b"], r["__c"])
        for r in _screen_flags(
            docs,
            min_words=30,
            min_stopword_hits=1,
            flesch_min_x1000=50_000,
            entropy_min=3.0,
        ).collect()
    }
    assert fused == composed
    # two-screen variant (q257/q278 shape) has no __c column
    two = _screen_flags(
        docs, min_words=30, min_stopword_hits=1, flesch_min_x1000=50_000
    )
    assert two.columns == ["doc_id", "__a", "__b"]
    assert {
        r["doc_id"]: (r["__a"], r["__b"]) for r in two.collect()
    } == {k: v[:2] for k, v in composed.items()}


def test_bm25_topk_multi_rejects_duplicate_qids(spark):
    import pytest

    from manufacturing_data_integration_tool_spark.ops.text import (
        bm25_topk_multi,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="duplicate qid"):
        bm25_topk_multi(df, [("q1", ["a"]), ("q1", ["b"])])


@pytest.mark.parametrize("strategy", ["checkpoint", "persist", "off"])
def test_materialize_once_modes(spark, monkeypatch, strategy):
    """ops._materialize picks localCheckpoint under a local master,
    MEMORY_AND_DISK persist under any other (the master check is patched
    here), and nothing under the audit-only ``off`` conf. Every strategy
    returns the same ngram_jaccard_pairs rows, and a released() scope
    leaves no persistent RDD beyond those registered at its entry."""
    from pyspark import StorageLevel

    from manufacturing_data_integration_tool_spark.ops import _materialize
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six"),
            (4, "one two three four five seven"),
        ],
        "doc_id long, text string",
    )

    def persistent_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    if strategy == "persist":
        monkeypatch.setattr(_materialize, "_on_local_master", lambda df: False)
    if strategy == "off":
        spark.conf.set(_materialize.MODE_CONF, "off")
    before = persistent_rdds()
    try:
        with _materialize.released():
            got = sorted(
                (r["doc_a"], r["doc_b"])
                for r in ngram_jaccard_pairs(
                    docs, "doc_id", "text", n=3, threshold=0.2
                ).collect()
            )
            level = _materialize.materialize_once(docs).storageLevel
            made = persistent_rdds() - before
    finally:
        spark.conf.unset(_materialize.MODE_CONF)
    assert got == [(1, 2), (3, 4)]
    assert bool(made) == (strategy != "off")
    assert (level == StorageLevel.MEMORY_AND_DISK) == (strategy == "persist")
    assert not persistent_rdds() - before


def test_langid_pred_expr_matches_op(spark):
    """r13 one-scan langid fusion: the inline _langid_pred_expr column must
    be row-identical to language_id()'s predicted_lang — including ties
    (earlier language name wins), zero hits (default), NULL and empty
    text — so q48/q255/q391 can ride it on the label scan instead of a
    full-corpus doc_id self-join."""
    from manufacturing_data_integration_tool_spark.ops.text import (
        _langid_pred_expr,
        language_id,
    )

    rows = [
        (1, "the and of a to in plain english text"),
        (2, "el la de y que en texto"),
        (3, "the el la de and of y que en in"),  # cross-lang tie fodder
        (4, "zzz qqq xxx"),                      # zero marker hits
        (5, ""),
        (6, None),
        (7, "der die das und ist von"),
        (8, "的 是 了 在 我 有"),
        (9, "le la et les des un"),
        (10, "the la"),                          # exact 1-1 tie: en < es
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    via_op = {
        r["doc_id"]: r["predicted_lang"]
        for r in language_id(docs).collect()
    }
    via_expr = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", _langid_pred_expr("text").alias("p")
        ).collect()
    }
    assert via_expr == via_op


def test_q48_fusion_matches_op_composition(spark):
    """r13 q48 one-scan fusion: the fused construction (quality + langid
    expressions riding one scan, dedup representative via min-over-hash
    window) must produce exactly the rows of the old composed form
    (doc_quality ⋈ language_id ⋈ semi exact_dedup_by_content) — including
    duplicate texts (only the min-id copy survives), NULL/empty text, and
    rows failing each filter leg."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from manufacturing_data_integration_tool_spark.ops import dedup as dd
    from manufacturing_data_integration_tool_spark.ops import text as tx

    passing = (
        "the cat and the dog of a house to go in rooms where many other "
        "distinct english words appear making thirty tokens easily one "
        "two three four five six seven eight nine ten eleven twelve"
    )
    rows = [
        (10, passing),          # duplicate pair: only id 10 survives
        (11, passing),
        (12, passing + " unique suffix twenty"),   # passes, unique
        (13, "el la de y que en " * 8),            # es, filtered by lang
        (14, "the the the the the " * 10),         # en but low ttr
        (15, ""),
        (16, None),
        (17, "the and of a to in"),                # en but < 30 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    qual = tx.doc_quality(docs).select("doc_id", "n_tokens", "type_token_ratio")
    lang = tx.language_id(docs).select("doc_id", "predicted_lang")
    reps = dd.exact_dedup_by_content(docs, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    old = (
        qual.join(lang, "doc_id")
        .join(reps, "doc_id", "left_semi")
        .filter(
            (F.col("predicted_lang") == "en")
            & (F.col("n_tokens") >= 30)
            & (F.col("type_token_ratio") >= 0.55)
        )
        .select("doc_id", "predicted_lang", "n_tokens", "type_token_ratio")
    )

    base = docs.select(
        "doc_id",
        *tx._doc_quality_exprs("text"),
        tx._langid_pred_expr("text").alias("predicted_lang"),
        dd.content_hash(F.col("text"), "md5").alias("__h"),
    )
    keep = F.min("doc_id").over(Window.partitionBy("__h"))
    new = (
        base.withColumn("__keep", keep)
        .filter(
            (F.col("doc_id") == F.col("__keep"))
            & (F.col("predicted_lang") == "en")
            & (F.col("n_tokens") >= 30)
            & (F.col("type_token_ratio") >= 0.55)
        )
        .select("doc_id", "predicted_lang", "n_tokens", "type_token_ratio")
    )

    old_rows = sorted(map(tuple, old.collect()))
    new_rows = sorted(map(tuple, new.collect()))
    assert new_rows == old_rows
    assert old.schema == new.schema
    # the fixture must exercise the dedup leg (one of the dup pair kept)
    kept_ids = {r[0] for r in new_rows}
    assert 10 in kept_ids and 11 not in kept_ids and 12 in kept_ids
