"""Text/similarity/multimodal function unit tests + the
no-per-row-Python discipline check (SURVEY.md hard-part #4)."""

from __future__ import annotations

import glob
import hashlib
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dstream_spark.functions import dedup_text
from dstream_spark.functions.dedup_text import (
    NUM_PERM,
    jaccard_pairs,
    simhash_expr,
    word_shingles,
)
from dstream_spark.functions.multimodal import MEDIA_SCHEMA, extract_features
from dstream_spark.functions.similarity import cosine, cosine_topk
from dstream_spark.functions.text import predicted_lang, quality_score, token_count

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_row_at_a_time_python_udfs():
    """Ban F.udf / @udf in engine code: every Python crossing must be
    Arrow-vectorized (pandas UDF / applyInPandas / mapInPandas)."""
    bad = re.compile(r"(^|[^a-zA-Z_.])(F\.udf\(|udf\(lambda|@udf\b)")
    offenders = []
    for path in glob.glob(f"{REPO}/dstream_spark/**/*.py", recursive=True):
        for i, line in enumerate(open(path), 1):
            if bad.search(line):
                offenders.append(f"{path}:{i}")
    assert not offenders, offenders


def test_no_driver_side_collection_in_engine():
    """Ban .toPandas()/.collect() in engine code: any operator that
    funnels a table through the driver caps the pipeline at driver
    memory (the 100-TB disqualifier). Scalar bounds via .first()/.agg
    are fine; full-table collection is not."""
    bad = re.compile(r"\.(toPandas|collect)\(")
    offenders = []
    for path in glob.glob(f"{REPO}/dstream_spark/**/*.py", recursive=True):
        for i, line in enumerate(open(path), 1):
            if bad.search(line.split("#")[0]):
                offenders.append(f"{path}:{i}")
    assert not offenders, offenders


def test_token_count_and_quality(spark):
    df = spark.createDataFrame([("the a b c",), ("x",)], ["text"])
    rows = df.select(token_count().alias("n"), quality_score().alias("q")).collect()
    assert rows[0].n == 4 and rows[1].n == 1
    assert abs(rows[0].q - (0.5 * 0.04 + 0.5 * 0.5)) < 1e-9


def test_predicted_lang_deterministic_tiebreak(spark):
    df = spark.createDataFrame([("data query spark vector the",)], ["text"])
    lang = df.select(predicted_lang().alias("l")).first().l
    # all scores tie at 1 → lexicographically greatest code wins
    assert lang == "zh"


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d x"), (2, "p q r s t")], ["doc_id", "text"]
    )
    sh = df.select(word_shingles("text", 3).alias("s")).collect()
    assert sh[0].s == ["a b c", "b c d", "c d e"]
    pairs = jaccard_pairs(df, threshold=0.3).collect()
    assert len(pairs) == 1 and pairs[0].id_a == 0 and pairs[0].id_b == 1
    assert abs(pairs[0].jaccard - 0.5) < 1e-9  # 2 shared / (3+3-2)


def test_shingles_short_docs_empty(spark):
    """Docs with fewer than k tokens shingle to an EMPTY array (not a
    crash: sequence(1, n<=0) is descending in Spark and slice(.., 0, k)
    throws). Jaccard/minhash then skip them, matching DuckDB's empty
    generate_series semantics."""
    df = spark.createDataFrame(
        [(0, "one"), (1, "just two"), (2, "now three tokens"), (3, "a b c d")],
        ["doc_id", "text"],
    )
    sh = {r.doc_id: r.s for r in df.select("doc_id", word_shingles("text", 3).alias("s")).collect()}
    assert sh[0] == [] and sh[1] == []
    assert sh[2] == ["now three tokens"]
    assert sh[3] == ["a b c", "b c d"]
    # pair ops tolerate the short docs end-to-end
    assert jaccard_pairs(df, threshold=0.1).collect() == []


# None text, empty text, shorter than k, double spaces (split(' ') keeps
# the empty token), a repeated shingle, and an ordinary doc
KERNEL_DOCS = [None, "", "one two", "a  b c", "x y x y x y", "the quick brown fox jumps"]


def _ref_shingles(text, k):
    """Spark's when(size(split(text, ' ')) >= k, array_distinct(k-grams))
    .otherwise([]): NULL text takes the otherwise branch."""
    if text is None:
        return []
    toks = text.split(" ")
    grams = []
    for i in range(len(toks) - k + 1):
        g = " ".join(toks[i : i + k])
        if g not in grams:
            grams.append(g)
    return grams


def _ref_minhash(shingles):
    """Per seed, array_min(transform(shingles, g -> md5('<seed>|' || g)));
    NULL for a NULL or empty array."""
    if not shingles:
        return None
    return [
        min(hashlib.md5(f"{seed}|{g}".encode()).hexdigest() for g in shingles)
        for seed in range(NUM_PERM)
    ]


def test_word_shingles_kernel_matches_reference(spark):
    """The cached Arrow kernel's Python body, run on a local Series (no
    Spark job), equals the expression-semantics reference."""
    word_shingles("text", 3)  # builds the k=3 kernel; plans nothing
    kernel = dedup_text._UDF_CACHE[("shingles", 3)].func
    got = kernel(pd.Series(KERNEL_DOCS, dtype=object))
    assert [list(x) for x in got] == [_ref_shingles(d, 3) for d in KERNEL_DOCS]
    assert got[3] == ["a  b", " b c"] and got[4] == ["x y x", "y x y"]


def test_minhash_kernel_matches_reference(spark):
    """_minhash_arr's kernel (behind minhash_signature) on local shingle
    arrays, including NULL and empty ones, equals per-seed min md5."""
    dedup_text._minhash_arr(F.col("s"), NUM_PERM)
    kernel = dedup_text._UDF_CACHE[("minhash", NUM_PERM)].func
    arrays = [None, []] + [_ref_shingles(d, 3) for d in KERNEL_DOCS] + [["b", "a", "b"]]
    got = kernel(pd.Series(arrays, dtype=object))
    assert list(got) == [_ref_minhash(a) for a in arrays]
    assert got[0] is None and got[1] is None and len(got[5]) == NUM_PERM


def test_simhash_banded_dups_equal_brute_force(spark):
    """simhash_near_dups (pigeonhole segment join) must return exactly
    the brute-force all-pairs result."""
    from dstream_spark.functions.dedup_text import hamming_distance, simhash_near_dups

    rng = np.random.default_rng(7)
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    words = base.split()
    for i in range(60):
        w = list(words)
        for _ in range(int(rng.integers(0, 6))):  # 0-5 word edits
            w[int(rng.integers(0, len(w)))] = f"w{int(rng.integers(0, 50))}"
        rows.append((i, " ".join(w)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = df.select("doc_id", simhash_expr("text").alias("simhash"))
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dups(sig, bits=32, max_hamming=8).collect()
    }
    l, r_ = sig.alias("l"), sig.alias("r")
    brute = {
        (row.id_a, row.id_b, row.hamming)
        for row in (
            l.join(r_, F.col("l.doc_id") < F.col("r.doc_id"))
            .select(
                F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"),
                hamming_distance(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
            )
            .filter(F.col("hamming") <= 8)
        ).collect()
    }
    assert banded == brute and len(banded) > 0


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "the quick brown fox jumps over the lazy dog again and agains"),
            (2, "completely different words everywhere nothing shared at all here now"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.h for r in df.select("doc_id", simhash_expr("text").alias("h")).collect()}
    d01 = bin(out[0] ^ out[1]).count("1")
    d02 = bin(out[0] ^ out[2]).count("1")
    assert d01 < d02


def test_cosine_topk_self_similarity(spark):
    rng = np.random.default_rng(0)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    # vec 29 = vec 0 scaled → cosine 1.0, must be vec 0's top neighbor
    vecs[29] = (29, [2.0 * x for x in vecs[0][1]])
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = cosine_topk(df.filter(F.col("vec_id") == 0), df, k=3).collect()
    assert out[0].n_id == 29 and abs(out[0].sim - 1.0) < 1e-6


def test_multimodal_feature_extraction(spark):
    rows = [
        (0, "image", bytearray(b"\x89PNG fake"), {"w": "4", "h": "4"}),
        (1, "audio", bytearray(b"RIFF fake"), {"sr": "16000"}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(df, dim=8).orderBy("media_id").collect()
    assert [r.kind for r in out] == ["image", "audio"]
    assert all(len(r.feature) == 8 for r in out)
    assert out[0].n_bytes == 9
    # deterministic: same payload → same feature
    again = extract_features(df, dim=8).orderBy("media_id").collect()
    assert [r.sha1 for r in out] == [r.sha1 for r in again]


def test_jaccard_max_df_cap(spark):
    """max_df drops hot shingles from BOTH the index and the union
    count: docs related only through a stop-shingle produce no pair,
    while genuinely similar docs keep a high (capped-universe) score."""
    rows = [
        (0, "common header line alpha beta gamma"),
        (1, "common header line alpha beta delta"),
        (2, "common header line totally different words"),
        (3, "common header line other unrelated stuff"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # 'common header line' (and its two neighbors) appear in all 4 docs;
    # cap at 3 removes them from the universe entirely
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.01, max_df=3).collect()
    }
    # docs 0/1 keep 3 shingles each ('common header line' df=4 is
    # dropped) and share 2 of them -> 2 / (3 + 3 - 2) = 0.5
    assert (0, 1) in capped and abs(capped[(0, 1)] - 0.5) < 1e-9
    # pairs linked ONLY by the boilerplate disappear
    assert (2, 3) not in capped
    uncapped = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(df, threshold=0.01).collect()
    }
    assert (2, 3) in uncapped  # sanity: the cap is what removed it


def test_simhash_table_equals_expression_form(spark):
    """simhash_table (Arrow vote kernel) must equal simhash_expr
    (per-row bit folds) on identical input."""
    from dstream_spark.functions.dedup_text import simhash_table

    df = spark.createDataFrame(
        [(i, f"turn {i} says token{i % 7} and token{i % 3} again") for i in range(40)],
        ["doc_id", "text"],
    )
    expr_form = {
        (r.doc_id, r.h)
        for r in df.select("doc_id", simhash_expr("text").alias("h")).collect()
    }
    table_form = {(r.doc_id, r.simhash) for r in simhash_table(df).collect()}
    assert expr_form == table_form


def test_ivf_assign_vec_equals_window_pick(spark):
    """ivf_assign_vec (aggregate max_by pick, vector carried through)
    must produce the same (vec_id, c_id) labels as ivf_assign's
    row_number pick, plus the unchanged vector — including on inputs
    with cosine TIES (duplicate centroids), where both must break to
    the lowest centroid id."""
    from dstream_spark.functions.similarity import ivf_assign, ivf_assign_vec

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(50)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    # centroids 0..3 distinct, centroid 4 DUPLICATES centroid 2 → every
    # vector nearest c2 ties (c2, c4); the pick must choose c2
    cents = [(c, vecs[c][1]) for c in range(4)] + [(4, vecs[2][1])]
    cdf = spark.createDataFrame(cents, ["c_id", "c_vec"])
    window_form = {
        (r.vec_id, r.c_id) for r in ivf_assign(df, cdf).collect()
    }
    carried = ivf_assign_vec(df, cdf).collect()
    agg_form = {(r.vec_id, r.c_id) for r in carried}
    assert agg_form == window_form
    by_id = dict(vecs)
    assert all(r.embedding == by_id[r.vec_id] for r in carried)
