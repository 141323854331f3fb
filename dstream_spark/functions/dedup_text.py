"""Near-duplicate detection families: MinHash+LSH, SimHash, n-gram
Jaccard — the large-scale training-data dedup operators.

Design for 100 TB:
- shingling + hashing are pure JVM expressions (transform/md5) — one
  scan, no Python, no shuffle.
- MinHash signatures collapse each document to NUM_PERM strings before
  anything shuffles; the LSH band join shuffles only (band, band_hash)
  keys, never document text. Candidate volume is controlled by the
  band/row split exactly as in the MinHash-LSH literature.
- n-gram Jaccard is the exact (quadratic) method — used on blocked
  candidates, never the full corpus, at scale.

Everything is md5-based so DuckDB reproduces it bit-for-bit: MinHash
takes the lexicographic min of md5(seed || shingle) hex strings — a
uniform hash order without engine-specific integer hashing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_PERM = 8  # minhash permutations (seeded md5 namespaces)
BANDS = 4  # LSH bands → rows_per_band = NUM_PERM // BANDS


# pandas_udf parses DDL types against the active session; built lazily
# so the module imports without one (see similarity._udf)
_UDF_CACHE: dict[tuple, object] = {}


def _shingles_py(text: str, k: int) -> list[str]:
    """Python mirror of the word-shingle expression: split on a single
    space (keeps empty tokens, like F.split/regex ' '), k-gram join,
    first-occurrence-ordered distinct (array_distinct semantics)."""
    toks = text.split(" ")
    if len(toks) < k:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))


def word_shingles(text_col: str = "text", k: int = 3) -> Column:
    """Distinct word k-grams as an array<string>; EMPTY array for
    documents shorter than k tokens and for NULL text.

    Arrow-vectorized (guide §4.2): the original expression form
    (split -> when(size >= k, array_distinct(transform(sequence,
    concat_ws(slice)))); the guard is needed because Spark's
    sequence(1, n <= 0) is descending, not empty) runs entirely in
    INTERPRETED higher-order-function eval — no codegen — and
    measured 1.9 s for 50k docs at the 10x proxy where the Python
    str.join + dict.fromkeys loop (C-speed string ops, one Arrow
    crossing of the text column) does the same work in a fraction of
    that. Output strings/order are bit-identical
    (first-occurrence distinct; single-space split keeps empty tokens
    on both paths; NULL text falls into the when()'s otherwise branch
    — size(NULL) is NULL, a NULL condition takes otherwise — so BOTH
    forms yield []). tests/test_functions.py checks the kernel against
    a pure-Python reference of the expression's semantics."""
    key = ("shingles", k)
    if key not in _UDF_CACHE:

        def shingle_batch(s: pd.Series) -> pd.Series:
            return pd.Series(
                [[] if t is None else _shingles_py(t, k) for t in s],
                dtype=object,
            )

        _UDF_CACHE[key] = F.pandas_udf(shingle_batch, "array<string>")
    return _UDF_CACHE[key](F.col(text_col) if isinstance(text_col, str) else text_col)


def word_windows(text_col: str | Column = "text", w: int = 10) -> Column:
    """OVERLAPPING w-token windows, stride 1, duplicates KEPT, in
    order (the ExactSubstr rolling windows) — Arrow-vectorized mirror
    of when(size(toks) >= w, transform(sequence(1, n-w+1),
    i -> concat_ws(' ', slice(toks, i, w)))).otherwise([]): empty for
    short docs, [] for NULL text (NULL condition takes otherwise)."""
    key = ("windows", w)
    if key not in _UDF_CACHE:

        def window_batch(s: pd.Series) -> pd.Series:
            out = []
            for t in s:
                if t is None:
                    out.append([])
                    continue
                toks = t.split(" ")
                if len(toks) < w:
                    out.append([])
                else:
                    out.append(
                        [" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)]
                    )
            return pd.Series(out, dtype=object)

        _UDF_CACHE[key] = F.pandas_udf(window_batch, "array<string>")
    return _UDF_CACHE[key](F.col(text_col) if isinstance(text_col, str) else text_col)


def word_chunks(text_col: str | Column = "text", w: int = 40) -> Column:
    """DISJOINT w-token chunks in order, last chunk short (the
    paragraph segmentation) — Arrow-vectorized mirror of
    transform(sequence(0, ceil(n/w)-1), i -> concat_ws(' ',
    slice(toks, i*w+1, w))). NULL text yields [] (the expression form
    yields NULL, but both explode() to zero rows — the only consumer
    shape)."""
    key = ("chunks", w)
    if key not in _UDF_CACHE:

        def chunk_batch(s: pd.Series) -> pd.Series:
            out = []
            for t in s:
                if t is None:
                    out.append([])
                    continue
                toks = t.split(" ")
                out.append(
                    [" ".join(toks[i : i + w]) for i in range(0, len(toks), w)]
                )
            return pd.Series(out, dtype=object)

        _UDF_CACHE[key] = F.pandas_udf(chunk_batch, "array<string>")
    return _UDF_CACHE[key](F.col(text_col) if isinstance(text_col, str) else text_col)


def minhash_signature(shingles: Column, num_perm: int = NUM_PERM) -> list[Column]:
    """num_perm minhash values: min over md5('<seed>|' || shingle).

    Arrow-vectorized: ONE pandas UDF computes all seeds' digests per
    DISTINCT shingle (per-batch memo — hashlib.md5 in C, ~8x less
    expression work than the interpreted transform+array_min per
    seed), takes the byte-wise min per seed and hex-encodes it.
    Lowercase-hex lexicographic order == digest-byte lexicographic
    order ('0'..'9' < 'a'..'f' is monotone in the nibble value), so
    min(hex strings) == hex(min(digests)) and results are identical
    to the expression form array_min(transform(shingles, g ->
    md5('<seed>|' || g))), which tests/test_functions.py checks
    against a pure-Python reference. Empty/NULL shingle arrays yield
    NULL minhashes, as array_min of an empty transform does."""
    arr = _minhash_arr(shingles, num_perm)
    return [F.element_at(arr, seed + 1).alias(f"mh_{seed}") for seed in range(num_perm)]


def _minhash_arr(shingles: Column, num_perm: int) -> Column:
    import hashlib

    key = ("minhash", num_perm)
    if key not in _UDF_CACHE:
        prefixes = [f"{seed}|".encode() for seed in range(num_perm)]

        def minhash_batch(s: pd.Series) -> pd.Series:
            memo: dict = {}

            def digests(g: str):
                d = memo.get(g)
                if d is None:
                    gb = g.encode()
                    d = [hashlib.md5(p + gb).digest() for p in prefixes]
                    memo[g] = d
                return d

            out = []
            for sh in s:
                if sh is None or len(sh) == 0:
                    out.append(None)
                    continue
                rows = [digests(g) for g in sh]
                out.append([min(r[j] for r in rows).hex() for j in range(num_perm)])
            return pd.Series(out, dtype=object)

        _UDF_CACHE[key] = F.pandas_udf(minhash_batch, "array<string>")
    return _UDF_CACHE[key](shingles)


def lsh_bands(df: DataFrame, num_perm: int = NUM_PERM, bands: int = BANDS) -> DataFrame:
    """Explode a signature table (id + mh_0..mh_{n-1}) into
    (id, band, band_hash) rows; equal band_hash ⇒ candidate pair."""
    rows = num_perm // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("band_hash"))
        )
    id_cols = [c for c in df.columns if not c.startswith("mh_")]
    return (
        df.select(*id_cols, F.explode(F.array(*band_cols)).alias("bb"))
        .select(*id_cols, F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))
    )


def simhash_expr(text_col: str | Column = "text", bits: int = 32) -> Column:
    """SimHash over word tokens: per bit, majority vote of token-hash
    bits (hex-nibble decoding of md5 — portable to any SQL engine).

    bit b of token t = (nibble(md5(t), b // 4) >> (b % 4)) & 1
    simhash bit b    = 1 iff sum(2*bit - 1) > 0 over tokens

    The registry uses the Arrow kernel ``simhash_table``; this
    expression form is its reference in tests/test_functions.py.
    """
    toks = F.split(F.col(text_col) if isinstance(text_col, str) else text_col, " ")
    return simhash_from_hexes(F.transform(toks, F.md5), bits)


def simhash_from_hexes(hexes: Column, bits: int = 32) -> Column:
    def nibble(h: Column, i: int) -> Column:
        # instr is 1-based; md5 hex is lowercase on both engines
        return F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1

    def bit_merger(b: int):
        # two-arg closure: PySpark reads a lambda's arity, so a
        # default-arg lambda (s, h, b=b) would count as three arguments
        # where aggregate()'s merge takes exactly two
        def merge(s: Column, h: Column) -> Column:
            return s + F.shiftright(nibble(h, b // 4), b % 4).bitwiseAND(F.lit(1)) * 2 - 1

        return merge

    acc = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hexes, F.lit(0).cast("long"), bit_merger(b))
        acc = acc + F.when(vote > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def hamming_distance(a: Column, b: Column, bits: int = 32) -> Column:
    return F.bit_count(a.bitwiseXOR(b)).cast("int") if bits <= 64 else None


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(id, simhash) via ONE Arrow-vectorized pass — no explode, no
    groupBy, NO EXCHANGE: each document's votes are summed in numpy
    inside a pandas UDF (hashlib.md5 per distinct token with a
    per-batch memo). The r5 explode+partial-agg form shuffled one
    32/48-vote row per doc and evaluated bits× sum expressions per
    token row; this computes the same integer votes at C speed
    (measured 1.4 s -> ~0.5 s for 50k docs at the 10x proxy) and the
    plan collapses to Scan -> ArrowEvalPython -> Project.

    Exactness: bit b of token t = (nibble(md5_hex(t), b//4) >> (b%4))
    & 1, decoded here straight from the digest bytes (hex char 2i =
    high nibble of byte i); votes are exact integers, so output is
    bit-identical to simhash_expr / the DuckDB oracle (equality
    enforced in tests). NULL text yields no row on both paths (the
    explode form dropped it; here it is filtered explicitly)."""
    import hashlib

    key = ("simhash", bits)
    if key not in _UDF_CACHE:
        nhex = bits // 4
        nbytes = nhex // 2
        shifts = np.arange(4, dtype=np.uint8)
        pow2 = (np.int64(1) << np.arange(bits, dtype=np.int64)).astype(np.int64)

        def tok_bits(t: str, memo: dict) -> np.ndarray:
            v = memo.get(t)
            if v is None:
                dig = hashlib.md5(t.encode()).digest()[:nbytes]
                b = np.frombuffer(dig, dtype=np.uint8)
                nibs = np.empty(nhex, dtype=np.uint8)
                nibs[0::2] = b >> 4
                nibs[1::2] = b & 15
                v = ((nibs[:, None] >> shifts) & 1).ravel().astype(np.int32)
                memo[t] = v
            return v

        def simhash_batch(s: pd.Series) -> pd.Series:
            memo: dict = {}
            out = np.empty(len(s), dtype=np.int64)
            for i, text in enumerate(s):
                toks = text.split(" ")
                counts = np.add.reduce([tok_bits(t, memo) for t in toks], axis=0)
                votes = 2 * counts.astype(np.int64) - len(toks)
                out[i] = int(pow2[votes > 0].sum())
            return pd.Series(out)

        _UDF_CACHE[key] = F.pandas_udf(simhash_batch, "long")
    return df.where(F.col(text_col).isNotNull()).select(
        id_col, _UDF_CACHE[key](F.col(text_col)).alias("simhash")
    )


def _popcount64(x):
    """Vectorized SWAR popcount over a non-negative int64 ndarray —
    ~9 streaming numpy ops, no 2^16 lookup-table gathers. Safe for
    hashes up to 63 bits (all intermediates stay non-negative)."""
    m1 = np.int64(0x5555555555555555)
    m2 = np.int64(0x3333333333333333)
    m4 = np.int64(0x0F0F0F0F0F0F0F0F)
    x = x - ((x >> 1) & m1)
    x = (x & m2) + ((x >> 2) & m2)
    x = (x + (x >> 4)) & m4
    return (x * np.int64(0x0101010101010101)) >> 56


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 32,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= max_hamming via balanced
    triangle blocks + a VECTORIZED verify (numpy XOR/popcount inside
    one applyInPandas per block pair). Output is identical to the
    brute-force join (property-tested for any radius).

    Why not the pigeonhole-banding equi-join (the r2-r5 form): at the
    declared radius the segments are only 3-6 bits wide, so bucket
    collision counts exceed all-pairs — measured at sf1.0 (50k docs,
    hamming<=8): 3.02B banding candidates at 32 bits / 1.73B at 48
    bits vs 1.25B all-pairs, with the hottest single (segment, value)
    bucket alone holding 444M pairs (a one-task straggler, guide
    §2.5). The verify itself was a sort-merge self-join emitting every
    candidate row-at-a-time (~100ns/row => the 134s sf1.0 query).

    This form instead:
    - splits the signature table into K deterministic chunks
      (pmod(id, K) — guide §2.5: never rand-derived), K sized so that
      K(K+1)/2 block tasks ~= 4x cluster parallelism;
    - routes each row to its K block tasks (task (i,j) holds chunks i
      and j, every unordered pair lands in EXACTLY one task — the
      triangle tiling of the pair matrix), via one explicit
      repartition (AQE would coalesce the tiny shuffle to one
      partition and serialize the quadratic compare work);
    - verifies each block with numpy: chunked XOR + SWAR popcount at
      ~1e9 pairs/s/core instead of ~1e7 joined rows/s/core.

    Scale note: pair-density at these widths makes the OUTPUT itself
    Theta(N^2) (382.5M pairs at 50k docs / 32 bits), so no candidate
    scheme changes the asymptotics — the win is a constant ~20x on
    the compare+emit machinery. For 10^9+ corpora the operator must
    be given a 64/128-bit fingerprint, where 7-14-bit pigeonhole
    segments (Manku et al.) prune candidates to near-output size; the
    banding form then comes back as the candidate *generator* with
    this same vectorized verify per bucket.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    # K(K+1)/2 block tasks ~= 4x parallelism; floor 2 so tiny inputs
    # still produce a valid tiling
    k_chunks = max(2, int((8 * par) ** 0.5))
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, hamming int"
    limit = int(max_hamming)

    def verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(key[0]), int(key[1])
        ids_all = pdf["__id"].to_numpy()
        hs_all = pdf["__h"].to_numpy().astype(np.int64)
        empty = pd.DataFrame(
            {
                "id_a": np.empty(0, ids_all.dtype),
                "id_b": np.empty(0, ids_all.dtype),
                "hamming": np.empty(0, np.int32),
            }
        )
        out_a, out_b, out_h = [], [], []
        if ti == tj:
            # within-chunk: strict upper triangle after an id sort
            order = np.argsort(ids_all, kind="stable")
            ids, hs = ids_all[order], hs_all[order]
            m = len(ids)
            if m < 2:
                return empty
            # L2-resident tiles: the SWAR popcount makes ~11 passes over
            # the XOR tile, so a 32 MB tile (the old 1<<22 elems) paid
            # DRAM bandwidth 11x under 32 concurrent tasks; a 256 KB
            # tile keeps every pass in L2 (measured 3x: 262->87 ms per
            # 9.8M pairs single-threaded, more under contention)
            block = max(1, (1 << 15) // m)
            for a in range(0, m - 1, block):
                b = min(a + block, m)
                x = hs[a:b, None] ^ hs[None, a:]
                pc = _popcount64(x)
                keep = (pc <= limit) & (
                    np.arange(a, m)[None, :] > np.arange(a, b)[:, None]
                )
                ii, jj = np.nonzero(keep)
                if len(ii):
                    # the contract is strict id_a < id_b: duplicate ids
                    # sort adjacent, drop their self-pairs
                    ne = ids[a + ii] != ids[a + jj]
                    ii, jj = ii[ne], jj[ne]
                if len(ii):
                    out_a.append(ids[a + ii])
                    out_b.append(ids[a + jj])
                    out_h.append(pc[ii, jj])
        else:
            # cross-chunk: full A x B, pair ordered by id value
            ca = pdf["__ck"].to_numpy() == ti
            ids_a, hs_a = ids_all[ca], hs_all[ca]
            ids_b, hs_b = ids_all[~ca], hs_all[~ca]
            m = len(ids_b)
            if len(ids_a) == 0 or m == 0:
                return empty
            block = max(1, (1 << 15) // m)  # L2-resident tiles (see above)
            for a in range(0, len(ids_a), block):
                b = min(a + block, len(ids_a))
                x = hs_a[a:b, None] ^ hs_b[None, :]
                pc = _popcount64(x)
                ii, jj = np.nonzero(pc <= limit)
                if len(ii):
                    ia, ib = ids_a[a + ii], ids_b[jj]
                    out_a.append(np.minimum(ia, ib))
                    out_b.append(np.maximum(ia, ib))
                    out_h.append(pc[ii, jj])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "hamming": np.concatenate(out_h).astype(np.int32),
            }
        )

    ck = F.pmod(F.col(id_col).cast("long"), F.lit(k_chunks)).cast("int")
    routed = (
        df.where(F.col(id_col).isNotNull() & F.col(hash_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(hash_col).alias("__h"),
            ck.alias("__ck"),
        )
        .select(
            "__id",
            "__h",
            "__ck",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k_chunks - 1)),
                    lambda t: F.struct(
                        F.least(F.col("__ck"), t).alias("ti"),
                        F.greatest(F.col("__ck"), t).alias("tj"),
                    ),
                )
            ).alias("__task"),
        )
        .select("__id", "__h", "__ck", F.col("__task.ti").alias("__ti"), F.col("__task.tj").alias("__tj"))
    )
    # explicit repartition on the task key: the routed table is tiny in
    # bytes but quadratic in downstream work, so AQE's byte-based
    # coalescing must not fold the blocks onto one core
    n_tasks = k_chunks * (k_chunks + 1) // 2
    return (
        routed.repartition(max(par, n_tasks), "__ti", "__tj")
        .groupBy("__ti", "__tj")
        .applyInPandas(verify, schema=out_schema)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs via shingle-inverted
    index: explode shingles → self-join on shingle → count shared /
    union. The join key is the shingle, so only documents sharing at
    least one shingle ever meet — the sparse-similarity-join pattern.

    ``max_df``: drop shingles appearing in more than max_df documents
    BEFORE the self-join (jaccard is then over the capped shingle
    universe, on both the shared and union counts). This is the scale
    guard: a stop-shingle in f documents alone generates O(f²) pairs —
    one hot boilerplate line can dwarf the rest of the corpus. Capped
    document frequency bounds per-shingle join fan-out at max_df².
    """
    sh = df.select(
        F.col(id_col), word_shingles(text_col, k).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    ex = sh.select(id_col, "n_sh", F.explode("sh").alias("g"))
    if max_df is not None:
        # shingles are distinct per document, so count(*) per g = df
        kept = (
            ex.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("g")
        )
        fex = ex.join(kept, "g").select(id_col, "g")
        n = fex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        ex = fex.join(n, id_col).select(id_col, "n_sh", "g")
    left = ex.alias("l")
    right = ex.alias("r")
    pairs = (
        left.join(right, (F.col("l.g") == F.col("r.g")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.n_sh").alias("n_a"),
            F.col("r.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.round(
        F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
    ).alias("jaccard")
    return (
        pairs.select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= threshold)
    )
