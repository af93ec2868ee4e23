"""Deduplication operators for large-scale document pipelines
(SURVEY.md §2.11 — contract-mandated extensions).

Five tiers, cheapest first:
1. exact            — hash-groupBy on the raw column
2. fingerprint      — md5 of normalized text (case/punct-insensitive)
3. n-gram Jaccard   — inverted-index self-join on shingles (exact
                      similarity, no probabilistic step)
4. MinHash + LSH    — signature min-hashing + banding; only band
                      collisions are verified (the 100 TB path: cost
                      is ~linear in corpus size, not quadratic)
5. SimHash          — 64-bit sign-sum fingerprint; near-dups are
                      pairs within a small Hamming distance, found
                      via pigeonhole block-equality joins

Scale design:
- every step is explode → shuffle-on-shingle/band → agg; no cross
  join ever touches the full corpus;
- hot shingles (document frequency > df_cap) are dropped before the
  pair join — the classic skew guard: a stopword shingle shared by
  10^6 docs would otherwise emit 10^12 candidate pairs;
- md5-based hashing (not xxhash64) so every stage is reproducible in
  any engine, which the DuckDB oracle exploits.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from env_event_stream_spark.functions.text import (
    fingerprint,
    shingles_from_tokens,
    tokens,
)

__all__ = [
    "fingerprint_groups",
    "shingle_table",
    "jaccard_pairs",
    "containment_pairs",
    "passage_dedup",
    "contamination_hits",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_blocks",
    "simhash_pairs",
]


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin-spread a sub-split scan before a CPU-heavy
    row-local expansion (tokenize / shingle explode / md5): one small
    parquet file arrives as ONE partition, which pins the whole map
    stage to a single core — and every concurrent consumer of a
    cached frame built from it then serializes behind that one
    computing task's block lock (measured: 4 parallel 0.8 s stages
    with zero CPU at sf0.1, all waiting on the same cached shingle
    partition). On a real multi-file table the condition is false and
    no exchange is added — the simhash()/winnowing precedent, guide
    §2.5 "input skew"."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        return df.repartition(slots)
    return df


def fingerprint_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Normalized-text fingerprint groups: (fingerprint, n_docs,
    keep_id). Groups with n_docs > 1 are near-exact duplicates."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
    df_cap: int | None = None,
) -> DataFrame:
    """(id, shingle) exploded inverted index — distinct per doc.
    ``df_cap`` drops shingles appearing in more than df_cap docs
    (skew guard; cap makes candidate generation near-linear)."""
    sh = (
        _spread(df).withColumn("_tk", tokens(F.col(text_col)))
        .select(F.col(id_col), F.explode(shingles_from_tokens(F.col("_tk"), n)).alias("sh"))
    )
    if df_cap is not None:
        hot = sh.groupBy("sh").agg(F.count("*").alias("_df")).where(
            F.col("_df") > df_cap
        )
        sh = sh.join(hot.select("sh"), "sh", "left_anti")
    return sh


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_shared: int = 1,
    df_cap: int | None = None,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing
    word n-grams with a held-out eval/benchmark set.

    Output: (id, n_shared distinct overlapping n-grams, n_eval_docs
    distinct eval docs hit) for training docs with n_shared >=
    ``min_shared``. Scale shape: the eval side is tiny relative to the
    corpus (benchmarks are KBs, corpora are TBs), so its shingle table
    is broadcast — the 100 TB train side is never shuffled, each task
    probes the eval hash map locally. ``df_cap`` guards against
    stopword-like shingles exploding the probe output.
    ``train_shingles``/``eval_shingles`` let a caller that already
    holds (id, sh) tables — e.g. a cached corpus-wide shingle table
    filtered by split — share the tokenize+explode pass instead of
    paying a second one (the jaccard_pairs ``shingles`` precedent;
    explode commutes with a row-local id filter, so a filtered corpus
    table is row-identical to shingling the filtered corpus)."""
    if train_shingles is not None and df_cap is not None:
        raise ValueError(
            "contamination_hits: df_cap applies only when this function "
            "builds the train shingle table itself; apply the cap to the "
            "shared table before passing train_shingles"
        )
    tr = (
        train_shingles
        if train_shingles is not None
        else shingle_table(train, text_col, id_col, n, df_cap=df_cap)
    )
    ev = (
        eval_shingles
        if eval_shingles is not None
        else shingle_table(eval_df, text_col, id_col, n)
    ).select(F.col(id_col).alias("_eval_id"), "sh")
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy(id_col)
        .agg(
            F.countDistinct("sh").cast("bigint").alias("n_shared"),
            F.countDistinct("_eval_id").cast("bigint").alias("n_eval_docs"),
        )
        .where(F.col("n_shared") >= min_shared)
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index join:
    |A∩B| from the shingle self-join, |A∪B| = |A|+|B|-|A∩B|.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded.
    Pass an already-cached ``shingles`` table to share the explode
    with another consumer (the S-curve shares it with banding)."""
    sh = (
        shingles
        if shingles is not None
        else shingle_table(df, text_col, id_col, n, df_cap).cache()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram containment C(A→B) = |S(A)∩S(B)| / |S(A)|:
    the doc-inside-doc detector. A short document quoted verbatim
    inside a much longer one has high containment but low Jaccard
    (the union is dominated by the long doc), so symmetric Jaccard
    misses exactly the quote/excerpt duplication a training corpus
    accumulates.

    Output: (id_inner, id_outer, containment) — id_inner's shingle set
    is >= threshold contained in id_outer's; both directions of a pair
    are tested and either or both may emit. Same inverted-index shape
    as jaccard_pairs: one self-join on the shingle key, never a cross
    product; ``df_cap`` is the usual hot-shingle skew guard at corpus
    scale."""
    sh = shingle_table(df, text_col, id_col, n, df_cap).cache()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    both = common.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
        "id_a",
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
        "id_b",
    )
    fwd = both.select(
        F.col("id_a").alias("id_inner"),
        F.col("id_b").alias("id_outer"),
        F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("id_inner"),
        F.col("id_a").alias("id_outer"),
        F.round(F.col("n_common") / F.col("n_b"), 6).alias("containment"),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= threshold)


def passage_dedup(
    df: DataFrame, text_col: str, id_col: str, *, window: int = 20
) -> DataFrame:
    """Passage-level exact dedup: split each document into
    non-overlapping ``window``-word passages and find passages that
    occur more than once in the corpus (boilerplate headers, licence
    blocks, templated paragraphs — sub-document duplication that
    whole-doc dedup can't see).

    Output: (passage_hash, n_occ, n_docs, keep_doc) for passages with
    n_occ >= 2; keep_doc = lowest doc id containing the passage (the
    deterministic survivor — drop the passage everywhere else).

    Scale shape: explode → groupBy-on-hash, fully map-side combinable;
    the passage string itself never leaves the executor (only its md5
    shuffles). Tail words beyond the last full window are ignored, so
    passage identity is alignment-stable."""
    w = int(window)
    passages = F.expr(
        f"transform(sequence(0, int(size(_tk) / {w}) - 1), "
        f"i -> array_join(slice(_tk, i * {w} + 1, {w}), ' '))"
    )
    exploded = (
        _spread(df).withColumn("_tk", tokens(F.col(text_col)))
        .where(F.size("_tk") >= w)
        .select(F.col(id_col), F.explode(passages).alias("_passage"))
    )
    return (
        exploded.groupBy(F.md5("_passage").alias("passage_hash"))
        .agg(
            F.count("*").cast("bigint").alias("n_occ"),
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_doc"),
        )
        .where(F.col("n_occ") >= 2)
    )


MINHASH_P = 2_147_483_647  # 2^31 - 1; (P-1)*P < 2^63 so int64 never overflows


def minhash_params(k: int = 16) -> list[tuple[int, int]]:
    """Deterministic (A_s, B_s) universal-hash coefficients per
    permutation, derived from md5 so the oracle can embed the same
    constants."""
    import hashlib

    out = []
    for s in range(k):
        a = int(hashlib.md5(f"A{s}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"B{s}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 3, k: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per doc: one wide row
    (id, h0..h{k-1}) where h_s = min over shingles of
    (A_s * h + B_s) mod P, h = uint32 of md5(shingle).

    ONE md5 per shingle + k integer permutations (universal hashing) —
    16x fewer digest calls than hashing per seed, measured 2x faster
    end-to-end; still exactly reproducible in the DuckDB oracle. The
    grouped min aggregates partially map-side: a single shuffle on
    the doc id. Pass a pre-built (id, sh) ``shingles`` frame to share
    the explode across stages (minhash_lsh_pairs does)."""
    sh = (
        shingles
        if shingles is not None
        else _spread(df).withColumn("_tk", tokens(F.col(text_col))).select(
            F.col(id_col),
            F.explode(shingles_from_tokens(F.col("_tk"), n)).alias("sh"),
        )
    )
    hv = _hex32_to_long(F.md5(F.col("sh"))) % MINHASH_P
    sh = sh.select(F.col(id_col), hv.alias("hv"))
    aggs = [
        F.min((F.lit(a) * F.col("hv") + F.lit(b)) % MINHASH_P).alias(f"h{s}")
        for s, (a, b) in enumerate(minhash_params(k))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, distinct) — the
    candidate-generation half of minhash_lsh_pairs, exposed so the
    S-curve calibration can measure detection probability WITHOUT
    the verification filter. One shingle explode feeds the signature
    pass (pass ``shingles`` to share it with a verification join —
    measured ~25% off the end-to-end time at sf0.1)."""
    k = bands * rows
    # standalone path: sh feeds only the signature pass, so no cache
    sh = shingles if shingles is not None else shingle_table(
        df, text_col, id_col, n
    )
    sig = minhash_signatures(df, text_col, id_col, n=n, k=k, shingles=sh)
    # one pass, not a bands-way union: the union form re-evaluates the
    # signature aggregation once PER BRANCH (4 HashAggregate subtrees
    # in the plan; only the exchange under them is reused), r16 guide
    # §2.4 — exploding an array of (band, key) structs emits the
    # identical (id, band, bk) row set from a single aggregation pass
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col(f"h{b * rows + r}") for r in range(rows)],
                    )
                ).alias("bk"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        F.col(id_col), F.explode(band_keys).alias("_bb")
    ).select(
        F.col(id_col),
        F.col("_bb.band").alias("band"),
        F.col("_bb.bk").alias("bk"),
    )
    # cache: tiny (n_docs × bands rows) but it feeds BOTH sides of the
    # self-join — uncached, the whole shingle→signature pipeline would
    # run once per side.
    banded = banded.cache()
    return (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bk"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.4,
) -> DataFrame:
    """MinHash LSH near-dup pairs: band the k=bands*rows signature,
    join docs sharing any band key, then verify candidates with exact
    Jaccard >= threshold. Candidate generation is linear-ish in corpus
    size (band-key shuffle), the quadratic step only runs inside
    colliding buckets."""
    sh = shingle_table(df, text_col, id_col, n).cache()
    cand = minhash_band_candidates(
        df, text_col, id_col, n=n, bands=bands, rows=rows, shingles=sh
    )
    # verify: exact jaccard computed ONLY for candidate pairs — the
    # whole point of LSH is that the quadratic step never touches
    # non-colliding docs. |cand| × shingles-per-doc work, not |docs|².
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("id_a"), "sh")
    sb = sh.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hex32_to_long(col: Column, offset: int = 0) -> Column:
    """8 hex chars of an md5 starting at ``offset`` → unsigned 32-bit
    value as bigint. conv() is portable enough but DuckDB lacks it —
    the oracle builds the same value digit-by-digit; conv(hex,16,10)
    here is exact."""
    return F.conv(F.substring(col, offset + 1, 8), 16, 10).cast("bigint")


def simhash_blocks(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(start_bit, width) per block, widths as even as possible.
    Shared by the Spark operator and the DuckDB oracle generator."""
    base, rem = divmod(bits, n_blocks)
    out, start = [], 0
    for c in range(n_blocks):
        w = base + (1 if c < rem else 0)
        out.append((start, w))
        start += w
    return out


# The SimHash tokenizer contract: strip THEN split on the explicit
# six-character whitespace class [ \t\n\x0b\f\r]. An explicit class —
# not \s, not engine trim() — because whitespace definitions differ
# across engines (Java \s includes \x0b, RE2's does not; Python
# str.strip() and DuckDB trim() disagree about U+2028 etc.). The
# DuckDB oracle (llm_queries._SIMHASH_CTES) spells out the same six
# characters; parity is fuzzed in tests/test_properties.py.
_WS_CHARS = " \t\n\x0b\f\r"
_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")


def simhash(
    df: DataFrame, text_col: str, id_col: str, *, bits: int = 64
) -> DataFrame:
    """64-bit SimHash (Manku et al., WWW'07 shape): per token (with
    multiplicity) take 64 md5-derived bits; for each bit position sum
    ±1; bit set iff the sum is positive. Output: (id, simhash bigint,
    bit 63 in the sign bit — pure bit pattern, compared only via
    XOR/bit_count which are sign-agnostic). Bit b<32 is bit b of the
    first md5 32-bit half, bit b>=32 is bit b-32 of the second half —
    two independent 32-bit values, no 64-bit parse that could
    overflow a signed long; the DuckDB oracle replays the exact same
    derivation.

    Plan shape: the signature is a PER-ROW map, so it runs as one
    Arrow-batched mapInPandas with ZERO shuffle — at 100 TB nothing
    ever leaves the scan partition. (The pure-Catalyst alternative —
    explode tokens, groupBy(id) with 64 conditional sums — shuffles
    the whole token table and spends seconds compiling the 64-sum
    codegen expression per plan; measured 3.5s vs 0.9s at sf0.1.)
    Inside each batch the token bit matrix is reduced with one numpy
    scatter-add per batch, not per-token Python."""
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits")
    import hashlib

    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} bigint, simhash bigint"

    def sig(batches):
        shifts = np.arange(bits, dtype=np.uint64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids, sims = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                t = ("" if text is None else str(text)).strip(_WS_CHARS)
                toks = _WS_RUN.split(t) if t else [""]
                hv = np.empty(len(toks), dtype=np.uint64)
                for i, w in enumerate(toks):
                    d = hashlib.md5(w.encode("utf-8")).digest()
                    lo = int.from_bytes(d[:4], "big")
                    hi = int.from_bytes(d[4:8], "big")
                    hv[i] = (hi << 32) | lo
                # token-bit matrix -> column sums: s_b = 2*ones_b - n
                onebits = ((hv[:, None] >> shifts) & 1).sum(axis=0)
                s = 2 * onebits.astype(np.int64) - len(toks)
                val = 0
                for b in range(bits):
                    if s[b] > 0:
                        val |= 1 << b
                if val >= 1 << 63:  # two's-complement into int64
                    val -= 1 << 64
                ids.append(did)
                sims.append(val)
            yield pd.DataFrame({id_col: ids, "simhash": sims})

    # a map-only pass is bounded by input parallelism — spread a
    # sub-split scan first (measured 5.6s -> 2.3s at sf0.1); on a
    # real multi-file 100 TB table _spread is a no-op.
    src = _spread(df.select(id_col, text_col))
    return src.mapInPandas(sig, schema=out_schema)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
    bits: int = 64,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked for scale.

    Recall guarantee (pigeonhole): the signature is split into
    ``n_blocks = max_hamming + 1`` contiguous blocks, so any pair
    within Hamming distance ``max_hamming`` has ≥1 block with zero
    differing bits and is found by the block-equality join. (The old
    4×8-bit/d≤6 variant violated this: a d=5 pair can differ 2+1+1+1
    across 4 chunks and share none.) Defaults are the industry shape:
    64-bit signature, d≤3, 4×16-bit blocks — 65k bucket values per
    block position keeps candidate counts near-linear at billions of
    docs. Candidates are verified with bit_count(xor) before the
    distinct, so the shuffle only carries true pairs."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks < max_hamming + 1:
        raise ValueError(
            f"n_blocks={n_blocks} cannot guarantee recall at "
            f"max_hamming={max_hamming}; need >= max_hamming+1"
        )
    # cache the signature table (id + one int64 — tiny even at 10^9
    # docs): both sides of the block self-join read it, and without
    # the cache the mapInPandas signature pass would run twice
    sig = simhash(df, text_col, id_col, bits=bits).cache()
    blocks = simhash_blocks(bits, n_blocks)
    chunks = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        # arithmetic shift + mask = the block's bits
                        # regardless of sign extension
                        F.shiftright(F.col("simhash"), start)
                        .bitwiseAND((1 << width) - 1)
                        .alias("v"),
                    )
                    for c, (start, width) in enumerate(blocks)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    x, y = chunks.alias("x"), chunks.alias("y")
    # filter on hamming BEFORE deduplicating the (up to n_blocks×
    # repeated) block-collision pairs: bit_count is a per-row
    # codegen'd op, the distinct is a shuffle — shrink it first.
    return (
        x.join(y, ["c", "v"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def winnow_fingerprint_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD'03, the MOSS algorithm): hash every word k-gram (md5-derived
    32-bit, oracle-replayable), slide a window of ``w`` consecutive
    hashes, keep the window MINIMUM — the guarantee is every shared
    substring of at least k+w-1 words contributes at least one
    IDENTICAL selected fingerprint in both documents, while storing
    only ~1/w of the gram hashes. One row-local Arrow pass, zero
    shuffles; output one (id, fp, pos) row per distinct selected
    fingerprint, pos = 1-based index of the first gram window that
    selected it (the localization winnowing exists for)."""
    import hashlib

    import numpy as np
    import pandas as pd

    # map-only selection pass — same small-input spread as simhash():
    # a single-file local table would pin the whole window-min pass to
    # one core; a real multi-file table skips the repartition.
    src = _spread(df.select(id_col, text_col))

    out_schema = f"{id_col} bigint, fp bigint, pos bigint"

    # One Arrow pass, like simhash(): the declarative form
    # (transform(md5) column + per-window slice/array_min) collapses
    # into ONE projection where Catalyst re-inlines the whole hash
    # array into EVERY window position — O(grams × w) md5 recompute,
    # measured 37s vs 1.5s at sf0.1. Tokenization uses the explicit
    # six-char whitespace class (the fuzz-pinned portable contract);
    # hashes are the first 8 md5 hex chars, identical to the oracle's
    # ('0x' || substr(md5(g), 1, 8))::BIGINT.
    def sel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, fps, poss = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                t = ("" if text is None else str(text)).strip(_WS_CHARS)
                toks = _WS_RUN.split(t) if t else [""]
                n = len(toks) - k + 1
                if n < w:
                    continue
                hv = np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.md5(
                                " ".join(toks[i: i + k]).encode("utf-8")
                            ).digest()[:4],
                            "big",
                        )
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                # np.unique(return_index) = FIRST window achieving
                # each selected fingerprint — the 1-based gram
                # position that localizes WHERE the overlap starts
                M = np.minimum.reduce(
                    [hv[i: n - w + 1 + i] for i in range(w)]
                )
                sel_fps, first_idx = np.unique(M, return_index=True)
                ids.extend([did] * len(sel_fps))
                fps.extend(int(x) for x in sel_fps)
                poss.extend(int(i) + 1 for i in first_idx)
            yield pd.DataFrame({id_col: ids, "fp": fps, "pos": poss})

    return src.mapInPandas(sel, schema=out_schema)


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    w: int = 4,
    df_cap: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints —
    the MOSS overlap report. A strict projection of winnow_spans
    (same bounded inverted-index join; the span extents it also
    computes are a handful of min/max aggregates, so one shared
    implementation instead of two pipelines to keep in sync).
    Output (id_a, id_b, n_shared)."""
    return winnow_spans(
        df, text_col, id_col,
        k=k, w=w, df_cap=df_cap, min_shared=min_shared,
    ).select("id_a", "id_b", "n_shared")


def winnow_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    w: int = 4,
    df_cap: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """WHERE the overlap is — the localization report that separates
    winnowing from MinHash (which only scores global similarity):
    for each matching pair, the gram-position extent of the shared
    fingerprints in BOTH documents. Output (id_a, id_b, n_shared,
    a_first, a_last, b_first, b_last); the [first, last] window range
    per side is the candidate span a surgical dedup/scrub pass
    re-examines. Same bounded inverted-index join as winnow_pairs."""
    fp = winnow_fingerprint_table(df, text_col, id_col, k=k, w=w).cache()
    dfq = fp.groupBy("fp").agg(F.count("*").alias("dfreq"))
    kept = fp.join(
        F.broadcast(dfq.where(F.col("dfreq") <= df_cap)), "fp"
    ).select(id_col, "fp", "pos")
    a = kept.select(F.col(id_col).alias("id_a"), "fp",
                    F.col("pos").alias("pa"))
    b = kept.select(F.col(id_col).alias("id_b"), "fp",
                    F.col("pos").alias("pb"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("bigint").alias("n_shared"),
            F.min("pa").cast("bigint").alias("a_first"),
            F.max("pa").cast("bigint").alias("a_last"),
            F.min("pb").cast("bigint").alias("b_first"),
            F.max("pb").cast("bigint").alias("b_last"),
        )
        .where(F.col("n_shared") >= min_shared)
    )
