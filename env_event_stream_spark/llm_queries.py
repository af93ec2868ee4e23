"""LLM-data-pipeline queries (SURVEY.md §2.11) on documents/embeddings.

Oracle strategy: every probabilistic step (MinHash, LSH, SimHash) is
built from md5 — which DuckDB computes identically — so even the
"approximate" operators are exactly reproducible in the oracle. The
oracle SQL strings are generated programmatically to mirror the Spark
plan constant-for-constant (hyperplanes, seeds, band layout).
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from env_event_stream_spark.functions.text import (
    LANG_MARKERS,
    fingerprint,
    ngram_repetition,
    quality_metrics,
    shingles_from_tokens,
    token_count,
    tokens,
)
from env_event_stream_spark.operators import dedup as D
from env_event_stream_spark.operators import similarity as S
from env_event_stream_spark.queries import query
from env_event_stream_spark.tables import load_table, small_model_frame

# Shared oracle CTE fragments -------------------------------------------------

_TOKENS_CTE = r"""
t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk, text FROM documents)
"""

_SHINGLES_CTE = (
    _TOKENS_CTE
    + r""",
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(tk) - 1),
           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS sh
  FROM t
)
"""
)

_JACCARD_CTES = (
    _SHINGLES_CTE
    + r""",
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS nc
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT ida AS id_a, idb AS id_b,
         round(nc * 1.0 / (sa.n_sh + sb.n_sh - nc), 4) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = ida
  JOIN sizes sb ON sb.doc_id = idb
)
"""
)


# ---------------------------------------------------------------------------
# Dedup tier 1-2: exact + fingerprint
# ---------------------------------------------------------------------------


@query(
    "doc_dedup_exact",
    """
    SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY text
    """,
)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the raw text; survivor = min id
    (deterministic, unlike dropDuplicates). Map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").cast("bigint").alias("n_docs"),
    ).select("keep_id", "n_docs")


@query(
    "doc_fingerprint_groups",
    r"""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                   '\s+', ' ', 'g'))) AS fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_id
    FROM documents GROUP BY 1
    """,
)
def doc_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup groups (case/punct-insensitive)."""
    d = load_table(spark, sf_dir, "documents")
    return D.fingerprint_groups(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# Dedup tier 3: exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------


@query(
    "doc_jaccard_pairs",
    "WITH "
    + _JACCARD_CTES
    + """
    SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
    """,
)
def doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard >= 0.5 — shingle
    inverted-index self-join, never a full cross product."""
    d = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)


# ---------------------------------------------------------------------------
# Dedup tier 4: MinHash + LSH banding (k=16, 4 bands x 4 rows)
# ---------------------------------------------------------------------------

_K, _BANDS, _ROWS = 16, 4, 4


def _hex32_sql(h: str, offset: int = 0) -> str:
    """uint32 from 8 hex chars of an md5 starting at ``offset`` —
    digit-by-digit (DuckDB has no conv())."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {offset + j + 1}, 1)) - 1)"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"({terms})"


def _band_cand_ctes() -> str:
    """The hv/sig/banded/cand oracle CTE text (MinHash signatures +
    banded LSH candidate pairs) — THE single SQL copy, consumed by
    _minhash_oracle, _minhash_accuracy_oracle and _scurve_oracle so
    the band-key encoding can never drift between them (it mirrors
    dedup.minhash_band_candidates on the Spark side)."""
    from env_event_stream_spark.operators.dedup import MINHASH_P, minhash_params

    params = minhash_params(_K)
    sig_cols = ", ".join(
        f"min(({a} * hv + {b}) % {MINHASH_P}) AS h{s}"
        for s, (a, b) in enumerate(params)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bk FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(h{b * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
            ),
        )
        for b in range(_BANDS)
    )
    return f"""
hv AS (SELECT doc_id, {_hex32_sql("md5(sh)")} % {MINHASH_P} AS hv FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM hv GROUP BY doc_id),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id
)"""


def _minhash_oracle() -> str:
    return (
        "WITH "
        + _JACCARD_CTES
        + ","
        + _band_cand_ctes()
        + """
SELECT c.id_a, c.id_b, j.jaccard
FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
WHERE j.jaccard >= 0.4
"""
    )


@query("doc_minhash_pairs", _minhash_oracle())
def doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: 16 md5-permutation minhashes,
    4x4 banding, candidates verified with exact Jaccard >= 0.4.
    Candidate generation is a band-key shuffle (linear-ish); the
    quadratic verify only runs inside colliding buckets."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "text", "doc_id", n=3, bands=_BANDS, rows=_ROWS, threshold=0.4
    )


# ---------------------------------------------------------------------------
# Dedup tier 5: SimHash
# ---------------------------------------------------------------------------


# 64-bit simhash oracle: two independent 32-bit md5 halves (no 64-bit
# parse), per-bit ±1 sums, assembly with bit 63 as the signed min-long
# literal (DuckDB's 1<<63 raises an overflow error; the literal is the
# same two's-complement bit pattern Spark's shiftleft produces).
# the tokenizer contract is an EXPLICIT whitespace class on both
# sides (operators/dedup.py strips/splits the same six chars) —
# engine trim() and \s definitions differ on exotic whitespace
# (U+2028, \x0b), so portable parity needs the class spelled out.
# chr() concatenation because standard SQL literals don't interpret
# backslash escapes; the regex pattern itself is parsed by RE2,
# which does.
_SIMHASH_CTES = (
    r"""
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(
           trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12)
                || chr(13)),
           '[ \t\n\x0b\f\r]+')) AS w
  FROM documents
),
hv AS (SELECT doc_id, """
    + _hex32_sql("md5(w)")
    + """ AS lo, """
    + _hex32_sql("md5(w)", offset=8)
    + """ AS hi FROM toks),
bits AS (SELECT unnest(range(64)) AS b),
per_bit AS (
  SELECT doc_id, b,
         sum(CASE WHEN (CASE WHEN b < 32 THEN lo >> b
                             ELSE hi >> (b - 32) END) & 1 = 1
             THEN 1 ELSE -1 END) AS s
  FROM hv CROSS JOIN bits GROUP BY doc_id, b
),
sims AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s <= 0 THEN 0
                       WHEN b = 63 THEN -9223372036854775808
                       ELSE (CAST(1 AS BIGINT) << b) END) AS BIGINT)
           AS simhash
  FROM per_bit GROUP BY doc_id
)
"""
)


@query(
    "doc_simhash",
    "WITH " + _SIMHASH_CTES + "SELECT doc_id, simhash FROM sims",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per document (sign-sum of md5-derived
    token bits) — all integer Catalyst expressions."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash(d, "text", "doc_id")


@query(
    "doc_simhash_pairs",
    # the oracle is a BRUTE-FORCE hamming self-join — deliberately
    # independent of the Spark side's pigeonhole blocking, so a
    # blocking scheme that loses recall shows up as a row-count
    # mismatch instead of being replicated on both sides.
    "WITH "
    + _SIMHASH_CTES
    + """
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
""",
)
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3, blocked on
    4 16-bit signature blocks (pigeonhole: any pair with d<=3 shares
    at least one of the 4 blocks — guaranteed recall) — no full
    self-join at scale."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, "text", "doc_id", max_hamming=3)


# ---------------------------------------------------------------------------
# Text analysis: token stats / quality / language-ID / fingerprint
# ---------------------------------------------------------------------------


@query(
    "doc_token_stats",
    r"""
    WITH t AS (SELECT doc_id, n_chars, text,
                      string_split_regex(trim(text), '\s+') AS tk
               FROM documents)
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq_tokens,
           round(list_sum(list_transform(tk, x -> len(x))) * 1.0 / len(tk), 4)
             AS avg_token_len,
           round(len(list_filter(tk, x -> list_contains(['the','a','of','and'], x)))
                 * 1.0 / len(tk), 4) AS stopword_ratio
    FROM t
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals, all Catalyst higher-order
    functions (no UDF in the row path)."""
    d = load_table(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        m["n_tokens"].alias("n_tokens"),
        m["n_uniq_tokens"].alias("n_uniq_tokens"),
        m["avg_token_len"].alias("avg_token_len"),
        m["stopword_ratio"].alias("stopword_ratio"),
    )


@query(
    "doc_decontaminate",
    "WITH "
    + _SHINGLES_CTE
    + """
    SELECT tr.doc_id,
           CAST(count(DISTINCT tr.sh) AS BIGINT) AS n_shared,
           CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
    FROM (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0) tr
    JOIN (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 97 = 0) ev
      USING (sh)
    GROUP BY tr.doc_id
    HAVING count(DISTINCT tr.sh) >= 1
    """,
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing word 3-grams
    with the held-out eval split (doc_id % 97 = 0 stands in for the
    benchmark set). Eval shingles are broadcast — the corpus side is
    never shuffled, which is the shape that holds at 100 TB train /
    KB-scale benchmarks."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    return D.contamination_hits(
        d.where(~is_eval), d.where(is_eval), "text", "doc_id"
    )


@query(
    "doc_contamination_spans",
    "WITH "
    + _SHINGLES_CTE
    + r""",
    g AS (SELECT doc_id, i - 1 AS pos,
                 tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
                FROM t WHERE len(tk) >= 3)
          WHERE doc_id % 97 <> 0),
    ev AS (SELECT DISTINCT sh AS shingle FROM sh WHERE doc_id % 97 = 0)
    SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos, g.shingle
    FROM g JOIN ev USING (shingle)
    """,
)
def doc_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: WHERE each contaminated training
    document overlaps the eval split — one row per (doc, token
    position) whose 3-gram appears in any eval document. This is
    what a surgical scrubber consumes (mask/remove the span) instead
    of dropping whole documents (doc_decontaminate's verdict).
    Same scale shape as the count variant: eval shingles broadcast,
    the train side keeps its positions via posexplode and is never
    shuffled."""
    from env_event_stream_spark.functions.text import _ngram_array

    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    train = d.where(~is_eval).select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    grams = train.where(F.size("tk") >= 3).select(
        "doc_id",
        F.posexplode(_ngram_array(F.col("tk"), 3)).alias("pos", "shingle"),
    )
    ev = (
        d.where(is_eval)
        .select(
            F.explode(
                shingles_from_tokens(tokens(F.col("text")), 3)
            ).alias("shingle")
        )
        .distinct()
    )
    return grams.join(F.broadcast(ev), "shingle").select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "shingle"
    )


@query(
    "doc_repetition_ratio",
    "WITH "
    + _TOKENS_CTE
    + """
    SELECT doc_id,
           CAST(len(tk) - 2 AS BIGINT) AS n_ngrams,
           CAST(len(list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS BIGINT)
             AS n_unique,
           round(1.0 - len(list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
             * 1.0 / (len(tk) - 2), 4) AS rep_ratio
    FROM t WHERE len(tk) >= 3
    """,
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-n-gram repetition signal per document:
    1 - unique_3grams/total_3grams. Pure array expressions per row —
    embarrassingly parallel, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "_tk", tokens(F.col("text"))
    )
    total, uniq = ngram_repetition(F.col("_tk"), 3)
    return (
        d.where(F.size("_tk") >= 3)
        .select(
            "doc_id",
            total.cast("bigint").alias("n_ngrams"),
            uniq.cast("bigint").alias("n_unique"),
            F.round(
                F.lit(1.0) - uniq.cast("double") / total.cast("double"), 4
            ).alias("rep_ratio"),
        )
    )


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(tk, x -> list_contains([{markers}], x)))"


def _lang_oracle() -> str:
    scores = ",\n           ".join(
        f"{_lang_score_sql(lang)} AS s_{lang}" for lang in sorted(LANG_MARKERS)
    )
    langs = sorted(LANG_MARKERS)  # alphabetical tie-break
    cases = " ".join(
        "WHEN "
        + " AND ".join(f"s_{l} >= s_{o}" for o in langs if o != l)
        + f" THEN '{l}'"
        for l in langs
    )
    greatest = ", ".join(f"s_{l}" for l in langs)
    return rf"""
    WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    s AS (SELECT doc_id, lang AS labeled_lang,
           {scores}
          FROM t)
    SELECT doc_id, labeled_lang,
           CASE WHEN greatest({greatest}) = 0 THEN 'und' {cases} END
             AS predicted_lang
    FROM s
    """


@query("doc_lang_id", _lang_oracle())
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID heuristic: per-language marker
    counts, argmax with alphabetical tie-break, 'und' when no marker
    hits. (The synthetic corpus uses one shared vocab, so predictions
    won't match the random labels — the oracle checks the heuristic
    itself, not the labels.)"""
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    langs = sorted(LANG_MARKERS)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            F.size(F.filter(tk, lambda x: x.isin(*LANG_MARKERS[lang]))).alias(
                f"s_{lang}"
            )
            for lang in langs
        ],
    )
    pred = F.when(F.greatest(*[F.col(f"s_{l}") for l in langs]) == 0, F.lit("und"))
    for l in langs:
        cond = None
        for o in langs:
            if o == l:
                continue
            c = F.col(f"s_{l}") >= F.col(f"s_{o}")
            cond = c if cond is None else (cond & c)
        pred = pred.when(cond, F.lit(l))
    return scored.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@query(
    "doc_quality_score",
    r"""
    WITH t AS (SELECT doc_id, text,
                      string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    m AS (SELECT doc_id,
                 len(tk) AS n,
                 len(list_filter(tk, x -> list_contains(['the','a','of','and'], x)))
                   AS s,
                 length(text) AS c,
                 length(regexp_replace(text, '[^\w\s]', '', 'g')) AS np,
                 len(list_distinct(tk)) AS u
          FROM t),
    i AS (SELECT doc_id,
                 least(n, 200) * n * c
                   + 100 * (c * s + n * np + c * u) AS num,
                 500 * n * c AS den
          FROM m),
    s AS (SELECT doc_id,
                 ((num * 20000 + den) // (2 * den)) / 10000.0 AS quality
          FROM i)
    SELECT doc_id, quality,
           CASE WHEN quality >= 0.75 THEN 'high'
                WHEN quality >= 0.55 THEN 'medium'
                ELSE 'low' END AS tier
    FROM s
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality score (length, stopword density,
    punctuation noise, vocabulary diversity) + tier bucketing — the
    filter stage of a training-data pipeline. Pure codegen'd
    expressions; at 100 TB this is a single scan-project, no
    shuffle.

    The score is 0.4·min(n,200)/200 + 0.2·stop/n + 0.2·nonpunct/c
    + 0.2·uniq/n, but COMPUTED over the common denominator
    D = 500·n·c as integer numerator/denominator, with half-up
    rounding to 4dp done by integer division ((NUM·20000 + D) DIV
    2D). Pure-double evaluation hit an exact .00005 tie at sf0.1
    (doc with score exactly 0.42175) where Spark rounds the shortest
    decimal repr and DuckDB rounds the raw binary — integer math
    removes the engine dependence entirely."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    d = d.withColumn("tk", t)
    n = F.size(F.col("tk")).cast("bigint")
    s = F.size(
        F.filter(F.col("tk"), lambda x: x.isin("the", "a", "of", "and"))
    ).cast("bigint")
    c = F.length("text").cast("bigint")
    np_ = F.length(F.regexp_replace("text", r"[^\w\s]", "")).cast("bigint")
    u = F.size(F.array_distinct(F.col("tk"))).cast("bigint")
    d = d.withColumn(
        "_num",
        F.least(n, F.lit(200).cast("bigint")) * n * c
        + 100 * (c * s + n * np_ + c * u),
    ).withColumn("_den", 500 * n * c)
    quality = F.expr("(_num * 20000 + _den) DIV (2 * _den)") / 10000.0
    return d.select(
        "doc_id",
        quality.alias("quality"),
        F.when(quality >= 0.75, "high")
        .when(quality >= 0.55, "medium")
        .otherwise("low")
        .alias("tier"),
    )


# sf_dirs at which the SPARK side has trained a model this process
# (recorded by the *_spark_cached trainers). The lazy oracles must
# train on the same data; _oracle_sf_dir() cross-checks.
_SPARK_TRAIN_DIRS: set[str] = set()

_DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _oracle_sf_dir() -> str:
    """Resolve the sf_dir a lazy (trained-model) oracle must read.

    Order: SPARK_GRAFT_ORACLE_SF_DIR if set (tools/check.py sets it
    for sf0.1 validation); else, if the Spark side already trained at
    exactly one sf_dir this process, that dir (engine and oracle then
    provably see the same data); else the driver's correctness scale
    (sf0.01). Fails loudly instead of silently training the oracle on
    different data than the engine (spurious red hash mismatches)."""
    import os as _os

    env = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    if env is not None:
        return env
    if len(_SPARK_TRAIN_DIRS) == 1:
        return next(iter(_SPARK_TRAIN_DIRS))
    if len(_SPARK_TRAIN_DIRS) > 1:
        raise RuntimeError(
            "lazy oracle: Spark side trained models at multiple sf_dirs "
            f"({sorted(_SPARK_TRAIN_DIRS)}) and SPARK_GRAFT_ORACLE_SF_DIR "
            "is unset — set it to the sf_dir under comparison"
        )
    return _DEFAULT_ORACLE_SF_DIR


# ---------------------------------------------------------------------------
# PCA whitening of the embedding column — the retrieval-prep
# transform (Su et al., "Whitening Sentence Representations") that
# decorrelates dimensions so cosine stops being dominated by a few
# high-variance axes. Trained like every model here: bounded
# lowest-id sample, deterministic numpy, 9dp-rounded literals shared
# bit-for-bit with the oracle.
# ---------------------------------------------------------------------------


@query(
    "doc_tfidf_top_terms",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    tf AS (SELECT doc_id, unnest(tk) AS term FROM t),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
    nd AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             round(tf * ln(n * 1.0 / df), 6) AS tfidf
      FROM tfc JOIN df USING (term) CROSS JOIN nd),
    r AS (SELECT scored.*, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS rn
          FROM scored)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
           CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document.

    Plan: explode → (doc,term) counts (map-side combine) → document
    frequency (second small agg) → broadcast df + corpus size back
    onto the term counts → per-doc top-k window. The fact-sized
    frames shuffle once each; df is vocabulary-sized (broadcastable
    at any corpus scale when df_cap-trimmed)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tfc = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tfc.groupBy("term").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("n"))
    scored = (
        tfc.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")), 6),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", F.col("tf").cast("bigint").alias("tf"),
                "tfidf", "rank")
    )


@query(
    "doc_hash_split_sample",
    """
    WITH h AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS bucket
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN bucket < 80 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(sum(CASE WHEN bucket >= 80 AND bucket < 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valid,
           CAST(sum(CASE WHEN bucket >= 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test,
           CAST(sum(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sample10
    FROM h GROUP BY lang
    """,
)
def doc_hash_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket sampling and train/valid/test
    splitting (80/10/10) + a 10% subsample — the reproducible
    alternative to rand()-based sample() that a 100 TB pipeline
    needs: assignment is a pure function of the id, stable across
    runs, engines, and re-partitioning; no shuffled sampling state.
    Counts per language double as the stratification report."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    h = d.select("lang", bucket.alias("bucket"))
    return h.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("bucket") < 80, 1).otherwise(0))
        .cast("bigint").alias("n_train"),
        F.sum(F.when((F.col("bucket") >= 80) & (F.col("bucket") < 90), 1)
              .otherwise(0)).cast("bigint").alias("n_valid"),
        F.sum(F.when(F.col("bucket") >= 90, 1).otherwise(0))
        .cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("bucket") < 10, 1).otherwise(0))
        .cast("bigint").alias("n_sample10"),
    )


@query(
    "doc_pack_sequences",
    r"""
    WITH n AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents),
    packed AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 2048 AS bin
      FROM n)
    SELECT source, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc
    FROM packed GROUP BY source, bin
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (sequential strategy): assign docs, in stable
    doc_id order WITHIN each source shard, to fixed 2048-token training
    bins — a doc starts in the bin where its running token offset
    falls. Per-shard windows keep the sort local to a shard (real
    pipelines pack per input shard, so no global sort ever happens at
    100 TB; the only shuffle is hash-by-source). Output is the bin
    manifest: docs + tokens per bin."""
    d = load_table(spark, sf_dir, "documents")
    n = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = n.withColumn(
        "bin",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(2048)
        ),
    )
    return packed.groupBy("source", "bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "doc_mixture_sample",
    r"""
    WITH w AS (
      SELECT doc_id, source,
             (regexp_extract(source, '(\d+)', 1)::INT % 4 + 1) * 25
               AS w100,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS bucket
      FROM documents)
    SELECT source,
           round(max(w100) / 100.0, 4) AS target_weight,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN bucket < w100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(sum(CASE WHEN bucket < w100 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS kept_rate
    FROM w GROUP BY source
    """,
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling: each source gets a target weight
    (derived here from the source id; in production a broadcast config
    table) and docs are kept iff their id-hash bucket falls under it —
    the deterministic, shuffle-free way to hit pretraining mixture
    ratios: assignment is a pure row-local function of (id, source),
    stable across runs/engines/partitioning, so re-runs reproduce the
    exact same subcorpus. One aggregation reports achieved vs target
    rate per source."""
    d = load_table(spark, sf_dir, "documents")
    w100 = (
        F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int") % 4 + 1
    ) * 25
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    rows = d.select(
        "source", w100.alias("w100"), bucket.alias("bucket")
    )
    kept = F.sum(F.when(F.col("bucket") < F.col("w100"), 1).otherwise(0))
    return rows.groupBy("source").agg(
        F.round(F.max("w100") / 100.0, 4).alias("target_weight"),
        F.count("*").cast("bigint").alias("n_docs"),
        kept.cast("bigint").alias("n_kept"),
        F.round(kept * 1.0 / F.count("*"), 4).alias("kept_rate"),
    )


@query(
    "doc_dup_clusters",
    "WITH RECURSIVE "
    + _JACCARD_CTES.lstrip()
    + """,
    edges AS (SELECT id_a AS u, id_b AS v FROM jac WHERE jaccard >= 0.5
              UNION
              SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
    comp(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
    )
    SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS component
    FROM comp GROUP BY node
    """,
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ENDGAME: transitive duplicate clusters. Near-dup
    pairs (word-3-gram Jaccard >= 0.5) form a graph; connected
    components (iterative min-label propagation,
    operators/graph.py) assign each document its cluster id = the
    smallest doc_id reachable — keep one doc per component, drop the
    rest. The oracle replays the closure with a recursive CTE. Each
    propagation round is one equi-join + grouped min; dup clusters
    are near-cliques so rounds ≈ 3 even on billion-doc corpora."""
    from env_event_stream_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


@query(
    "doc_dedup_survivors",
    "WITH RECURSIVE "
    + _JACCARD_CTES.lstrip()
    + """,
    edges AS (SELECT id_a AS u, id_b AS v FROM jac WHERE jaccard >= 0.5
              UNION
              SELECT id_b, id_a FROM jac WHERE jaccard >= 0.5),
    comp(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
    ),
    cm AS (SELECT node, min(label) AS component FROM comp GROUP BY node)
    SELECT d.doc_id,
           CAST(CASE WHEN cm.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS was_clustered
    FROM documents d
    LEFT JOIN cm ON cm.node = d.doc_id
    WHERE cm.node IS NULL OR cm.component = d.doc_id
    """,
)
def doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup KEEP-LIST — what a pipeline actually writes out:
    every document that either never appeared in a near-dup pair or
    is its cluster's head (smallest doc_id in the component).
    Composition: jaccard pairs → connected components → anti-join
    the non-heads out of the corpus. The corpus-sized frame is
    touched by one left join on doc_id; the component table is
    near-dup-sized (tiny relative to the corpus)."""
    from env_event_stream_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    comp = connected_components(pairs, "id_a", "id_b")
    out = d.select("doc_id").join(
        comp, d["doc_id"] == comp["node"], "left"
    )
    return out.where(
        F.col("node").isNull() | (F.col("component") == F.col("doc_id"))
    ).select(
        "doc_id",
        F.when(F.col("node").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("was_clustered"),
    )


@query(
    "doc_unigram_logprob",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
    vocab AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    tot AS (SELECT count(*) AS n FROM tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(cnt * 1.0 / n)), 4) AS avg_logprob
    FROM tok JOIN vocab USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: train a unigram LM on the
    corpus itself (token counts / total) and score each document by
    its mean token log-probability — the cheap first-pass filter for
    gibberish/boilerplate before an expensive model-based scorer.
    Plan: one explode → token-count agg (map-side combined), counts
    broadcast back onto the token stream, one grouped avg per doc.
    The corpus-sized token frame shuffles once (the doc_id agg);
    vocabulary and total are broadcast — at 100 TB trim the vocab
    tail with a df_cap the same way the dedup shingle tables do."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # r16 (guide §1.1, the dsir/pmi rollup): the total is an exact
    # integer rollup of the vocab counts, so the corpus explodes twice
    # (counts + scoring) instead of three times; the vocab checkpoints
    # lazily and feeds both the broadcast and the total.
    vocab = (
        t.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = vocab.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))
    return (
        t.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") * 1.0 / F.col("n"))), 4).alias(
                "avg_logprob"
            ),
        )
    )


def _bpe_oracle() -> str:
    from env_event_stream_spark.functions.text import BPE_PRETOKEN_RE

    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return rf"""
    WITH b AS (
      SELECT doc_id,
             list_filter(regexp_extract_all(text, '{pat}'),
                         t -> NOT regexp_full_match(t,
                           '[ \t\n\x0b\f\r]+')) AS bt,
             string_split_regex(trim(text), '\s+') AS wt
      FROM documents)
    SELECT doc_id,
           CAST(len(wt) AS BIGINT) AS n_ws_tokens,
           CAST(len(bt) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_distinct(bt)) AS BIGINT) AS n_uniq_bpe,
           round(CASE WHEN len(bt) = 0 THEN 0.0
                 ELSE list_sum(list_transform(bt, t -> len(t))) * 1.0 / len(bt)
                 END, 4) AS avg_bpe_len
    FROM b
    """


@query("doc_bpe_token_stats", _bpe_oracle())
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token accounting: whitespace count vs the GPT-2-ish
    pre-tokenizer count (functions/text.py:bpe_pretokens — the
    merge-free first stage of byte-level BPE; the right unit for
    sequence-packing budgets and training-cost estimates when the
    real tokenizer isn't available in-engine). Pure per-row regexp +
    array expressions — embarrassingly parallel, zero shuffles; the
    regex is restricted to syntax Java regex and RE2 interpret
    identically, so the DuckDB oracle replays the exact token
    stream."""
    from env_event_stream_spark.functions.text import bpe_pretokens

    d = load_table(spark, sf_dir, "documents")
    bt = bpe_pretokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
        F.size(bt).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bt)).cast("bigint").alias("n_uniq_bpe"),
        F.round(
            F.when(F.size(bt) == 0, F.lit(0.0)).otherwise(
                F.aggregate(
                    F.transform(bt, lambda t: F.length(t)),
                    F.lit(0),
                    lambda a, x: a + x,
                )
                * 1.0
                / F.size(bt)
            ),
            4,
        ).alias("avg_bpe_len"),
    )


@query(
    "doc_stratified_sample",
    """
    WITH r AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS rank
      FROM documents)
    SELECT source, doc_id, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 20
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: exactly 20 documents per
    source stratum, chosen by md5(doc_id) order — reproducible in any
    engine (no RNG state), unbiased w.r.t. document content, and
    stable under corpus growth for the already-sampled ids. One
    window per stratum key; at 100 TB prefer this over
    df.sampleBy(), whose per-partition Bernoulli draws neither hit
    exact quotas nor replay across engines."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 20)
        .select("source", "doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Passage-level dedup, containment pairs, PII redaction, token histogram
# ---------------------------------------------------------------------------


@query(
    "doc_passage_dedup",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    w AS (SELECT doc_id, unnest(range(0, len(tk) // 20)) AS i, tk
          FROM t WHERE len(tk) >= 20),
    p AS (SELECT doc_id,
                 md5(array_to_string(tk[(i*20+1):(i*20+20)], ' '))
                   AS passage_hash
          FROM w)
    SELECT passage_hash,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS keep_doc
    FROM p GROUP BY passage_hash HAVING count(*) >= 2
    """,
)
def doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: non-overlapping 20-word passages that occur
    more than once in the corpus (boilerplate headers, licence blocks,
    templated paragraphs — invisible to whole-doc dedup). Survivor =
    lowest doc id. Plan: explode → groupBy-on-md5, map-side
    combinable; only the 32-char hash shuffles, never the passage
    text (operators/dedup.py:passage_dedup)."""
    d = load_table(spark, sf_dir, "documents")
    return D.passage_dedup(d, "text", "doc_id", window=20)


@query(
    "doc_containment_pairs",
    "WITH "
    + _SHINGLES_CTE
    + r""",
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    bb AS (
      SELECT id_a, id_b, nc, sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b),
    drc AS (
      SELECT id_a AS id_inner, id_b AS id_outer,
             round(nc * 1.0 / n_a, 6) AS containment
      FROM bb
      UNION ALL
      SELECT id_b, id_a, round(nc * 1.0 / n_b, 6) FROM bb)
    SELECT id_inner, id_outer, containment FROM drc WHERE containment >= 0.8
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-inside-doc near-dup: asymmetric shingle containment
    |S(A)∩S(B)|/|S(A)| >= 0.8. A short doc quoted verbatim inside a
    long one scores ~1.0 here but low Jaccard (the union is dominated
    by the long doc) — exactly the excerpt/quote duplication a
    training corpus accumulates. Same inverted-index join shape as
    doc_jaccard_pairs (operators/dedup.py:containment_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(d, "text", "doc_id", n=3, threshold=0.8)


def _pii_oracle() -> str:
    from env_event_stream_spark.functions.text import PII_PATTERNS

    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(ftext, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    red = "ftext"
    for _, pat, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return rf"""
    WITH f AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.'
                  || (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                      ELSE 'net' END)
                  || ' or +1-202-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                  || CAST((doc_id * 7) % 256 AS VARCHAR)
                  || (CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.example'
                      ELSE '' END) AS ftext
      FROM documents)
    SELECT doc_id,
           {counts},
           md5({red}) AS redacted_md5,
           CAST(length({red}) AS BIGINT) AS redacted_len
    FROM f
    """


@query("doc_pii_redact", _pii_oracle())
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: email / phone / IPv4 redaction with per-kind audit
    counts (functions/text.py:PII_PATTERNS — patterns restricted to
    the Java-regex ∩ RE2 common dialect, so the oracle replays the
    byte-identical redaction, verified via md5).

    The synthetic corpus contains no PII, so each doc gets a
    DETERMINISTIC contact line derived from its id appended before
    redaction — the operator's regex semantics, chain order, and
    replacement bytes are what's under test. Pure regexp_replace
    chain: codegen'd, row-local, no shuffle at any scale."""
    from env_event_stream_spark.functions.text import pii_counts, pii_redact

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    tld = (
        F.when(did % 3 == 0, F.lit("com"))
        .when(did % 3 == 1, F.lit("org"))
        .otherwise(F.lit("net"))
    )
    extra = F.when(did % 3 == 0, F.lit(" cc admin@corp.example")).otherwise(
        F.lit("")
    )
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example."),
        tld,
        F.lit(" or +1-202-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (did % 256).cast("string"),
        F.lit(".0."),
        ((did * 7) % 256).cast("string"),
        extra,
    )
    f = d.select("doc_id", synth.alias("ftext"))
    counts = pii_counts(F.col("ftext"))
    red = pii_redact(F.col("ftext"))
    return f.select(
        "doc_id",
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("bigint").alias("redacted_len"),
    )


@query(
    "doc_token_histogram",
    r"""
    WITH t AS (SELECT len(string_split_regex(trim(text), '\s+')) AS n
               FROM documents),
    b AS (SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket, n
          FROM t WHERE n > 0),
    tot AS (SELECT count(*) AS total FROM b)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           round(count(*) * 1.0 / total, 6) AS share
    FROM b CROSS JOIN tot
    GROUP BY bucket, total
    """,
)
def doc_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: power-of-two token-count histogram
    (bucket = floor(log2(n_tokens)) — computed as len(bin(n)) - 1,
    exact integer arithmetic in both engines; floor(log2(x)) on
    doubles mis-buckets exact powers of two when log2 is computed as
    ln(x)/ln(2)). The shape that drives packing-bin sizing and
    truncation-loss estimates. One map-side-combinable aggregate."""
    d = load_table(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    b = d.select(n.alias("n")).where(F.col("n") > 0).select(
        (F.length(F.bin("n")) - 1).cast("bigint").alias("bucket"), "n"
    )
    tot = b.agg(F.count("*").alias("total"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            F.round(F.col("n_docs") * 1.0 / F.col("total"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules, sliding-window chunking, ANN recall eval
# ---------------------------------------------------------------------------


@query(
    "doc_gopher_quality_rules",
    r"""
    WITH t AS (SELECT doc_id, text,
                      string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    m AS (SELECT doc_id,
                 len(tk) AS n_tokens,
                 list_sum(list_transform(tk, x -> len(x))) * 1.0
                   / nullif(len(tk), 0) AS mean_word_len,
                 len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                   / nullif(len(text), 0) AS alpha_ratio,
                 len(list_filter(tk,
                     x -> list_contains(['the','a','of','and'], x))) > 0
                   AS has_stopword
          FROM t)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(mean_word_len, 4) AS mean_word_len,
           round(alpha_ratio, 4) AS alpha_ratio,
           coalesce(n_tokens BETWEEN 10 AND 100000, false) AS rule_len,
           coalesce(mean_word_len BETWEEN 2 AND 12, false) AS rule_word_len,
           coalesce(alpha_ratio >= 0.55, false) AS rule_alpha,
           has_stopword AS rule_stopword,
           coalesce(n_tokens BETWEEN 10 AND 100000, false)
             AND coalesce(mean_word_len BETWEEN 2 AND 12, false)
             AND coalesce(alpha_ratio >= 0.55, false)
             AND has_stopword AS passes
    FROM m
    """,
)
def doc_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (Rae et al. 2021, public) document quality rules:
    token-count bounds, mean-word-length bounds, alphabetic-character
    ratio, mandatory stopword hit, and the conjunction as the keep
    decision. All Catalyst higher-order functions over one scan —
    shuffle-free, so it runs as a pre-filter ahead of any dedup pass
    at corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    n = F.size(tk)
    d = d.select(
        "doc_id",
        n.alias("n_tokens"),
        (
            F.aggregate(
                F.transform(tk, lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            * 1.0
            / F.nullif(n.cast("int"), F.lit(0))
        ).alias("mean_word_len"),
        (
            F.length(F.regexp_replace("text", "[^A-Za-z]", "")) * 1.0
            / F.nullif(F.length("text"), F.lit(0))
        ).alias("alpha_ratio"),
        (
            F.size(F.filter(tk, lambda x: x.isin("the", "a", "of", "and"))) > 0
        ).alias("has_stopword"),
    )
    rule_len = F.coalesce(
        F.col("n_tokens").between(10, 100000), F.lit(False)
    )
    rule_wl = F.coalesce(
        F.col("mean_word_len").between(2, 12), F.lit(False)
    )
    rule_alpha = F.coalesce(F.col("alpha_ratio") >= 0.55, F.lit(False))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("alpha_ratio", 4).alias("alpha_ratio"),
        rule_len.alias("rule_len"),
        rule_wl.alias("rule_word_len"),
        rule_alpha.alias("rule_alpha"),
        F.col("has_stopword").alias("rule_stopword"),
        (rule_len & rule_wl & rule_alpha & F.col("has_stopword")).alias(
            "passes"
        ),
    )


@query(
    "doc_chunk_overlap",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    idx AS (SELECT doc_id, tk,
                   unnest(generate_series(0,
                     CAST(greatest(ceil((len(tk) - 64) / 32.0), 0) AS BIGINT)))
                     AS chunk_idx
            FROM t WHERE len(tk) > 0),
    c AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                 tk[chunk_idx * 32 + 1 : chunk_idx * 32 + 64] AS chunk
          FROM idx)
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM c
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, stride 32 — the
    standard long-document prep for embedding/training): sequence +
    explode + slice, all codegen'd array ops. Row-local (zero
    shuffles) and output-linear, so it streams through a 100 TB corpus
    as a pure map stage."""
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    n = F.size(F.col("tk"))
    d = d.where(n > 0).select(
        "doc_id",
        "tk",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil((n - F.lit(64)) / F.lit(32.0)), F.lit(0)
                ).cast("bigint"),
            )
        ).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("tk"), F.col("chunk_idx") * 32 + 1, 64)
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ + ADC)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# ANN recall evals for the remaining tiers (LSH one above)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# MinHash estimator accuracy — the dedup-side analogue of the ANN
# recall ladder: how close is the signature estimate to true Jaccard?
# ---------------------------------------------------------------------------


def _minhash_accuracy_oracle() -> str:
    matches = " + ".join(
        f"(CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END)" for s in range(_K)
    )
    return (
        "WITH "
        + _JACCARD_CTES
        + ","
        + _band_cand_ctes()
        + f""",
est AS (
  SELECT c.id_a, c.id_b, round(({matches}) / 16.0, 4) AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard,
       coalesce(j.jaccard, 0.0) AS jaccard,
       round(abs(e.est_jaccard - coalesce(j.jaccard, 0.0)), 4) AS abs_err
FROM est e LEFT JOIN jac j ON j.id_a = e.id_a AND j.id_b = e.id_b
"""
    )


@query("doc_minhash_accuracy", _minhash_accuracy_oracle())
def doc_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy eval: for every LSH band candidate pair, the
    16-permutation MinHash Jaccard ESTIMATE (matching permutations /
    16) next to TRUE shingle Jaccard and the absolute error — the
    dedup-threshold calibration number (at what estimate does true
    similarity actually clear your dedup bar?). True Jaccard is
    computed only for the candidate set (candidate-bounded joins, no
    all-pairs step anywhere)."""
    from env_event_stream_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_table(d, "text", "doc_id", 3).cache()
    # the signature table feeds SIX consumers (4 band frames + both
    # sides of the estimate join): materialize it once instead of
    # replaying the 16-min aggregation per consumer (the
    # doc_split_leakage_guard precedent — localCheckpoint blocks are
    # executor-local, acceptable for a per-doc-sized frame; prefer
    # persist(DISK_ONLY) on a long-lived 1000-executor run)
    sig = D.minhash_signatures(
        d, "text", "doc_id", n=3, k=16, shingles=sh
    ).localCheckpoint(eager=False)  # lazy (r16): one action consumes
    # every leg — truncation + compute-once need no up-front job
    bands, rows = 4, 4
    frames = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        frames.append(
            sig.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("bk"),
            )
        )
    banded = frames[0]
    for fr in frames[1:]:
        banded = banded.unionByName(fr)
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
        # candidate-set-sized; consumed by the estimate join AND the
        # true-Jaccard legs — checkpoint so the band join computes
        # once (lazy: same reasoning as sig above)
        .localCheckpoint(eager=False)
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(16)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(16)],
    )
    match_count = None
    for s in range(16):
        t = (F.col(f"a{s}") == F.col(f"b{s}")).cast("int")
        match_count = t if match_count is None else match_count + t
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(match_count / 16.0, 4).alias("est_jaccard"),
        )
    )
    # true Jaccard, candidate-bounded: explode each candidate's
    # shingles and count the shared ones — never an all-pairs join
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ca = cand.join(
        sh.select(F.col("doc_id").alias("id_a"), "sh"), "id_a"
    )
    nc = (
        ca.join(
            sh.select(F.col("doc_id").alias("id_b"), "sh"), ["id_b", "sh"]
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("nc"))
    )
    true_j = (
        nc.join(sizes.select(F.col("doc_id").alias("id_a"),
                             F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n_sh").alias("nb")), "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.col("nc") * 1.0 / (F.col("na") + F.col("nb") - F.col("nc")),
                4,
            ).alias("jaccard"),
        )
    )
    out = est.join(true_j, ["id_a", "id_b"], "left").select(
        "id_a", "id_b", "est_jaccard",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        F.round(
            F.abs(
                F.col("est_jaccard") - F.coalesce(F.col("jaccard"), F.lit(0.0))
            ),
            4,
        ).alias("abs_err"),
    )
    return out


@query(
    "doc_bigram_logprob",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    pairs AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(tk)),
                            i -> tk[i] || ' ' || tk[i+1])) AS bg
              FROM t),
    cnt2 AS (SELECT bg, count(*) AS c2 FROM pairs GROUP BY bg),
    cnt1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
             FROM pairs GROUP BY 1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln(c2 * 1.0 / c1)), 4) AS avg_logprob
    FROM pairs
    JOIN cnt2 USING (bg)
    JOIN cnt1 ON split_part(pairs.bg, ' ', 1) = cnt1.w1
    GROUP BY doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-LM quality score: P(w2|w1) = corpus bigram
    count / prefix count, each document scored by its mean bigram
    log-probability — tighter than the unigram filter at spotting
    shuffled/templated text (word salad keeps unigram mass but loses
    bigram mass). Scale shape: the prefix-count model
    (unigram-vocabulary-sized) is broadcast-hinted like the unigram
    filter's vocab; the BIGRAM count model is vocabulary-squared-ish
    and is deliberately NOT hinted — at small scale AQE still
    broadcasts it, at corpus scale it must shuffle-join (with a
    df_cap-style tail trim, the same treatment as the dedup shingle
    tables). Tokens contain no whitespace (tokenizer contract), so
    'w1 w2' strings are collision-free bigram keys."""
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    n = F.size(tk)
    pairs_arr = F.zip_with(
        F.slice(tk, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(tk, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    p = d.select("doc_id", F.explode(pairs_arr).alias("bg")).withColumn(
        "w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
    )
    # r16 (guide §1.1, the doc_pmi_collocations rollup): the prefix
    # counts are an exact integer rollup of the bigram counts
    # (c1 = Σ c2 over w1 — 'w1 w2' keys are collision-free), so the
    # corpus explode runs twice (counts + the per-doc score join)
    # instead of three times; cnt2 checkpoints lazily and both its
    # consumers read the same blocks.
    cnt2 = (
        p.groupBy("bg")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=False)
    )
    cnt1 = (
        cnt2.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    return (
        p.join(cnt2, "bg")
        .join(F.broadcast(cnt1), "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c2") * 1.0 / F.col("c1"))), 4).alias(
                "avg_logprob"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Full faiss-style IVFPQ: trained cells + trained codebooks
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# End-to-end pretraining corpus builder verdict
# ---------------------------------------------------------------------------


def _pretrain_precompute() -> tuple[str, str]:
    """Shared precompute for the pipeline-family lazy oracles. The
    naive single-SQL form (recursive label-propagation CTE over an
    inlined shingle self-join) is correct but DuckDB re-evaluates the
    inlined CTEs inside the recursion — >15 min at sf0.1 while each
    piece runs in ~2 s (AS MATERIALIZED hints don't rescue the
    recursive section on DuckDB 1.0). So the dup-component map and
    the contamination set are precomputed with the exact same SQL
    text, stepwise via temp tables, and returned as VALUES subselects
    — the driver still receives one plain SQL string and value
    parity is untouched."""
    import duckdb

    sf_dir = _oracle_sf_dir()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{sf_dir}/documents.parquet')"
    )
    con.execute(
        "CREATE TEMP TABLE _jac AS WITH "
        + _JACCARD_CTES.lstrip()
        + " SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5"
    )
    cm_rows = con.execute(
        """
        WITH RECURSIVE
        edges AS (SELECT id_a AS u, id_b AS v FROM _jac
                  UNION
                  SELECT id_b, id_a FROM _jac),
        comp(node, label) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
        )
        SELECT node, min(label) AS component FROM comp GROUP BY node
        """
    ).fetchall()
    cont_rows = con.execute(
        "WITH "
        + _SHINGLES_CTE.lstrip()
        + """
        SELECT DISTINCT tr.doc_id
        FROM (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0) tr
        JOIN (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 97 = 0) ev
          USING (sh)
        """
    ).fetchall()
    con.close()

    def _values2(rows) -> str:
        if not rows:
            return "SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) WHERE FALSE"
        body = ", ".join(f"({int(a)}, {int(b)})" for a, b in rows)
        return f"SELECT CAST(c0 AS BIGINT), CAST(c1 AS BIGINT) FROM (VALUES {body}) _v(c0, c1)"

    def _values1(rows) -> str:
        if not rows:
            return "SELECT CAST(NULL AS BIGINT) WHERE FALSE"
        body = ", ".join(f"({int(a)})" for (a,) in rows)
        return f"SELECT CAST(c0 AS BIGINT) FROM (VALUES {body}) _v(c0)"

    return _values2(cm_rows), _values1(cont_rows)


def _pretrain_pipeline_oracle() -> str:
    """Lazy oracle for doc_pretrain_pipeline (see
    _pretrain_precompute for why the recursive pieces are inlined)."""
    cm_sql, cont_sql = _pretrain_precompute()
    return (
        "WITH "
        + _TOKENS_CTE.lstrip()
        + f""",
    cm(node, component) AS ({cm_sql}),
    contaminated(doc_id) AS ({cont_sql}),
    q AS (SELECT doc_id,"""
        + _PIPELINE_TAIL
    )


_PIPELINE_TAIL = r"""
                 coalesce(len(tk) BETWEEN 10 AND 100000, false)
                   AND coalesce(list_sum(list_transform(tk, x -> len(x)))
                                  * 1.0 / nullif(len(tk), 0)
                                BETWEEN 2 AND 12, false)
                   AND coalesce(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                  * 1.0 / nullif(len(text), 0) >= 0.55, false)
                   AND len(list_filter(tk,
                       x -> list_contains(['the','a','of','and'], x))) > 0
                   AS passes_quality
          FROM t),
    v AS (
      SELECT d.doc_id,
             q.passes_quality,
             cm.node IS NOT NULL AND cm.component <> d.doc_id AS is_dup_loser,
             c.doc_id IS NOT NULL AS is_contaminated
      FROM documents d
      JOIN q ON q.doc_id = d.doc_id
      LEFT JOIN cm ON cm.node = d.doc_id
      LEFT JOIN contaminated c ON c.doc_id = d.doc_id
      WHERE d.doc_id % 97 <> 0
    )
    SELECT doc_id, passes_quality, is_dup_loser, is_contaminated,
           CASE WHEN NOT passes_quality THEN 'quality'
                WHEN is_dup_loser THEN 'duplicate'
                WHEN is_contaminated THEN 'contaminated'
                ELSE 'kept' END AS reason,
           passes_quality AND NOT is_dup_loser AND NOT is_contaminated
             AS kept
    FROM v
    """


def _pretrain_frames(spark: SparkSession, sf_dir: str):
    """ONE cached corpus-wide (doc_id, sh) shingle table serving every
    3-gram consumer in the pretrain family: the dedup inverted index
    (full corpus), the decontamination probe's train side (%97 != 0)
    and its eval side (%97 == 0 — also the scrub counter's shingle
    set). Explode commutes with the row-local doc_id filter, so the
    filtered views are row-identical to shingling the filtered corpus
    — previously this was THREE separate tokenize+explode passes over
    the documents table (guide §1.1 first-principles: one unavoidable
    pass, not three; r16)."""
    d = load_table(spark, sf_dir, "documents")
    corpus_sh = D.shingle_table(d, "text", "doc_id", 3).cache()
    train_sh = corpus_sh.where(F.col("doc_id") % 97 != 0)
    eval_sh = corpus_sh.where(F.col("doc_id") % 97 == 0)
    return d, corpus_sh, train_sh, eval_sh


@query("doc_pretrain_pipeline", _pretrain_pipeline_oracle)
def doc_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining corpus builder verdict — the
    composition a user actually ships: Gopher quality rules AND
    near-dup cluster survivorship (Jaccard >= 0.5 components, head
    kept) AND benchmark decontamination (eval = doc_id % 97 == 0
    holdout), with the first failing gate as the per-document reason.
    Every stage keeps its standalone scale shape (row-local quality,
    inverted-index dedup, broadcast eval probe); the verdict is two
    doc_id-keyed left joins over the corpus."""
    d, corpus_sh, train_sh, eval_sh = _pretrain_frames(spark, sf_dir)
    return _pretrain_verdict(d, corpus_sh, train_sh, eval_sh)


def _pretrain_verdict(
    d: DataFrame,
    corpus_sh: DataFrame,
    train_sh: DataFrame,
    eval_sh: DataFrame,
) -> DataFrame:
    from env_event_stream_spark.operators.graph import connected_components

    tk = tokens(F.col("text"))
    n = F.size(tk)
    passes_quality = (
        F.coalesce(n.cast("bigint").between(10, 100000), F.lit(False))
        & F.coalesce(
            (
                F.aggregate(
                    F.transform(tk, lambda x: F.length(x)),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
                * 1.0
                / F.nullif(n.cast("int"), F.lit(0))
            ).between(2, 12),
            F.lit(False),
        )
        & F.coalesce(
            (
                F.length(F.regexp_replace("text", "[^A-Za-z]", "")) * 1.0
                / F.nullif(F.length("text"), F.lit(0))
            )
            >= 0.55,
            F.lit(False),
        )
        & (F.size(F.filter(tk, lambda x: x.isin("the", "a", "of", "and"))) > 0)
    )
    q = d.select("doc_id", passes_quality.alias("passes_quality"))

    pairs = D.jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.5, shingles=corpus_sh
    )
    comp = connected_components(pairs, "id_a", "id_b")

    train = d.where(F.col("doc_id") % 97 != 0)
    eval_df = d.where(F.col("doc_id") % 97 == 0)
    hits = D.contamination_hits(
        train,
        eval_df,
        "text",
        "doc_id",
        train_shingles=train_sh,
        eval_shingles=eval_sh,
    ).select(F.col("doc_id").alias("_hit_id"))

    v = (
        train.select("doc_id")
        .join(q, "doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .join(hits, F.col("doc_id") == F.col("_hit_id"), "left")
        .select(
            "doc_id",
            "passes_quality",
            (
                F.col("node").isNotNull()
                & (F.col("component") != F.col("doc_id"))
            ).alias("is_dup_loser"),
            F.col("_hit_id").isNotNull().alias("is_contaminated"),
        )
    )
    reason = (
        F.when(~F.col("passes_quality"), "quality")
        .when(F.col("is_dup_loser"), "duplicate")
        .when(F.col("is_contaminated"), "contaminated")
        .otherwise("kept")
    )
    return v.select(
        "doc_id",
        "passes_quality",
        "is_dup_loser",
        "is_contaminated",
        reason.alias("reason"),
        (
            F.col("passes_quality")
            & ~F.col("is_dup_loser")
            & ~F.col("is_contaminated")
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# OPQ — the rotated-PQ rung of the ANN ladder
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al., 2023)
# ---------------------------------------------------------------------------


def _dsir_oracle() -> str:
    h = _hex32_sql("md5(term)")
    g = _hex32_sql("md5('dsir:' || CAST(doc_id AS VARCHAR))")
    return rf"""
    WITH t AS (SELECT doc_id, source,
                      string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    tok AS (SELECT doc_id, source, unnest(tk) AS term FROM t),
    b AS (SELECT doc_id, source, {h} % 1024 AS bucket FROM tok),
    ct AS (SELECT bucket, count(*) AS c FROM b
           WHERE source = 'src0' GROUP BY bucket),
    nt AS (SELECT count(*) AS n FROM b WHERE source = 'src0'),
    cr AS (SELECT bucket, count(*) AS c FROM b
           WHERE source <> 'src0' GROUP BY bucket),
    nr AS (SELECT count(*) AS n FROM b WHERE source <> 'src0'),
    sc AS (SELECT b.doc_id,
                  count(*) AS n_tokens,
                  avg(ln((coalesce(ct.c, 0) + 1.0) / (nt.n + 1024))
                      - ln((cr.c + 1.0) / (nr.n + 1024))) AS alr
           FROM b
           LEFT JOIN ct USING (bucket)
           JOIN cr USING (bucket)
           CROSS JOIN nt CROSS JOIN nr
           WHERE b.source <> 'src0'
           GROUP BY b.doc_id),
    gk AS (SELECT doc_id, n_tokens, round(alr, 4) AS avg_logratio,
                  round(alr
                        - ln(-ln(({g} + 0.5) / 4294967296.0)), 4)
                    AS sample_key
           FROM sc),
    r AS (SELECT *, CAST(row_number() OVER
                    (ORDER BY sample_key DESC, doc_id ASC) AS BIGINT)
                    AS rank
          FROM gk)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           avg_logratio, sample_key, rank
    FROM r WHERE rank <= 50
    """


@query("doc_dsir_sample", _dsir_oracle())
def doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS'23): pick the raw-pool
    documents most like a target domain by importance resampling over
    HASHED unigram features. Two 1024-bucket add-1-smoothed unigram
    models (target = source 'src0', raw = everything else) train in
    one pass and broadcast back (1024 rows each — the hashing trick
    that keeps the model O(buckets) no matter the vocabulary); each
    raw doc scores its mean per-token log importance ratio
    ln p_tgt - ln p_raw; Gumbel perturbation (md5(doc_id)-derived, so
    both engines replay it exactly) + top-k = sampling WITHOUT
    replacement proportional to the softmax of the scores — the DSIR
    recipe, deterministic end to end. One doc_id shuffle for the
    per-doc score; the k-cut is TakeOrderedAndProject on the rounded
    key (doc_id tie-break); the final row_number runs over k rows."""
    from env_event_stream_spark.operators.relational import top_k

    # r16 (guide §1.1): the two unigram models' four aggregates
    # (per-bucket counts + totals for each class) are exact rollups of
    # ONE (is-target, bucket) count table, so the corpus tokenizes
    # twice (model counts + the scoring join) instead of five times.
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    b = tok.withColumn(
        "bucket", D._hex32_to_long(F.md5(F.col("term"))) % 1024
    )
    per = (
        b.groupBy(
            (F.col("source") == "src0").alias("is_t"), F.col("bucket")
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    raw = b.where(F.col("source") != "src0")
    ct = per.where(F.col("is_t")).select("bucket", F.col("c").alias("c_t"))
    # coalesce: count() over an empty class was 0, sum() is NULL
    nt = per.where(F.col("is_t")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_t")
    )
    cr = per.where(~F.col("is_t")).select("bucket", F.col("c").alias("c_r"))
    nr = per.where(~F.col("is_t")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_r")
    )
    scored = (
        raw.join(F.broadcast(ct), "bucket", "left")
        .join(F.broadcast(cr), "bucket")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.avg(
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0)
                    / (F.col("n_t") + 1024)
                )
                - F.log((F.col("c_r") + 1.0) / (F.col("n_r") + 1024))
            ).alias("alr"),
        )
    )
    u = (
        D._hex32_to_long(
            F.md5(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")))
        )
        + 0.5
    ) / F.lit(4294967296.0)
    keyed = scored.select(
        "doc_id",
        "n_tokens",
        F.round("alr", 4).alias("avg_logratio"),
        F.round(F.col("alr") - F.log(-F.log(u)), 4).alias("sample_key"),
    )
    cut = top_k(
        keyed, [F.col("sample_key").desc(), F.col("doc_id").asc()], 50
    )
    w = Window.orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
    return cut.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


# ---------------------------------------------------------------------------
# Cross-document repeated n-grams — train-train boilerplate marking
# (Lee et al., 2021: "Deduplicating Training Data Makes LMs Better")
# ---------------------------------------------------------------------------


@query(
    "doc_repeated_ngram_frac",
    "WITH "
    + _TOKENS_CTE.lstrip()
    + r""",
    t5 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 5),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(tk) - 3),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        || ' ' || tk[i+3] || ' ' || tk[i+4])) AS g
          FROM t5),
    gd AS (SELECT g, doc_id, count(*) AS c FROM g GROUP BY g, doc_id),
    hot AS (SELECT g FROM gd GROUP BY g HAVING count(*) >= 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(coalesce(sum(CASE WHEN h.g IS NOT NULL THEN c END), 0)
                AS BIGINT) AS n_repeated,
           round(coalesce(sum(CASE WHEN h.g IS NOT NULL THEN c END), 0)
                 * 1.0 / sum(c), 4) AS repeated_frac
    FROM gd LEFT JOIN hot h USING (g)
    GROUP BY doc_id
    """,
)
def doc_repeated_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN-TRAIN boilerplate signal (Lee et al. 2021): per document,
    the fraction of its 5-grams that also occur in at least one OTHER
    document — the cheap proxy for duplicated substrings (headers,
    licenses, templates) that a corpus builder strips before training.
    Contrast doc_contamination_spans (train-vs-EVAL membership) and
    doc_repetition_ratio (WITHIN-doc duplicate grams). Plan: one
    (gram, doc) pre-aggregation (map-side combined — the multiplicity
    pass), a gram-keyed doc-frequency agg over the already-distinct
    (gram, doc) rows, one ≤1:1 join back (each (gram, doc) row meets
    at most one hot-gram row — NO pair explosion, unlike candidate
    generation), and the final doc_id rollup. Every shuffle key is
    gram or doc_id; nothing crosses the corpus."""
    from env_event_stream_spark.functions.text import _ngram_array

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text")).alias("tk")).where(
        F.size("tk") >= 5
    )
    grams = t.select("doc_id", F.explode(_ngram_array(F.col("tk"), 5)).alias("g"))
    per_gd = grams.groupBy("g", "doc_id").agg(F.count("*").alias("c"))
    hot = (
        per_gd.groupBy("g")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("g", F.lit(1).alias("is_hot"))
    )
    flagged = per_gd.join(hot, "g", "left")
    return flagged.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.coalesce(
            F.sum(F.when(F.col("is_hot").isNotNull(), F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_repeated"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("is_hot").isNotNull(), F.col("c"))),
                F.lit(0),
            )
            * 1.0
            / F.sum("c"),
            4,
        ).alias("repeated_frac"),
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH recall gain — the LSH-tier analogue of the OPQ delta
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index — build once, search from parquet
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Frequent-phrase mining via a distributed Misra-Gries sketch
# (boilerplate phrase detection without shuffling the gram vocabulary)
# ---------------------------------------------------------------------------


@query(
    "doc_phrase_heavy_hitters",
    "WITH "
    + _TOKENS_CTE.lstrip()
    + r""",
    t3 AS (SELECT tk FROM t WHERE len(tk) >= 3),
    g AS (SELECT unnest(list_transform(range(1, len(tk) - 1),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS phrase
          FROM t3),
    c AS (SELECT phrase, count(*) AS freq FROM g GROUP BY phrase),
    tot AS (SELECT sum(freq) AS n FROM c)
    SELECT phrase, CAST(freq AS BIGINT) AS freq,
           CAST(freq * 1000000 // n AS BIGINT) AS ppm
    FROM c, tot
    WHERE freq * 5000 > n
    ORDER BY freq DESC, phrase ASC
    """,
)
def doc_phrase_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi-heavy-hitter word-3-gram phrases (freq > n/5000 of all
    gram occurrences) — the frequent-template/boilerplate-phrase
    mining stage of a corpus pipeline, computed WITHOUT a
    full-vocabulary shuffle: a map-only per-partition Misra-Gries
    sketch (capacity 5000) emits a proven-superset candidate list,
    which is broadcast back over the gram stream for an exact
    recount (operators/sketches.py — two scans, shuffles bounded by
    capacity x partitions instead of |vocabulary|). The recount
    makes the output EXACT, so the oracle is the plain full groupBy.
    Contrast doc_repeated_ngram_frac (per-DOC boilerplate fraction;
    this names the global phrases) and func_explode_token_freq
    (full-shuffle top-k — the small-vocab path). At sf0.01 the 16k
    gram vocabulary vs 30 survivors is the pruning the sketch
    exists for; partition-local dicts only overflow once partitions
    carry >capacity occurrences (any real corpus; tiny test
    partitions just pass everything through as candidates, which is
    still the proven superset)."""
    from env_event_stream_spark.functions.text import _ngram_array
    from env_event_stream_spark.operators import sketches as SK

    d = load_table(spark, sf_dir, "documents")
    t = d.select(tokens(F.col("text")).alias("tk")).where(F.size("tk") >= 3)
    grams = t.select(F.explode(_ngram_array(F.col("tk"), 3)).alias("phrase"))
    return SK.heavy_hitters_exact(grams, "phrase", phi_inverse=5000)


# ---------------------------------------------------------------------------
# Two-stage retrieval: ADC candidates + exact re-rank (faiss refine)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup scoped to embedding clusters
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# fastText-style quality classifier — trained logistic over hashed
# unigrams (operators/classifier.py), Gopher rules as label source
# ---------------------------------------------------------------------------

_QC_SAMPLE_CAP = 1000


@_functools.lru_cache(maxsize=8)
def _qc_model_cached(sf_dir: str) -> tuple:
    """Oracle-side training: (doc_id, text) sample read with pyarrow
    in doc_id order — strings, so both paths trivially see identical
    bytes — then trained with the INDEPENDENT pure-Python twin
    (classifier.train_quality_classifier_py, math.exp +
    left-to-right folds, no numpy; since r15). Both trainers quantize
    (w, b) to 9dp per iteration, so the weights are bit-identical to
    the Spark path's numpy training (parity pinned at every testdata
    scale in tests/test_classifier.py) and the five classifier-family
    oracles are backed by an independently written trainer."""
    import os as _os

    import pyarrow.parquet as pq

    from env_event_stream_spark.operators import classifier as C

    tbl = pq.read_table(
        _os.path.join(sf_dir, "documents.parquet"),
        columns=["doc_id", "text"],
    )
    rows = sorted(
        zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()),
        key=lambda r: int(r[0]),
    )[:_QC_SAMPLE_CAP]
    w, b = C.train_quality_classifier_py(rows)
    return tuple(w), b


@_functools.lru_cache(maxsize=8)
def _qc_model_spark_cached(sf_dir: str) -> tuple:
    from env_event_stream_spark.session import get_spark

    from env_event_stream_spark.operators import classifier as C

    _SPARK_TRAIN_DIRS.add(sf_dir)
    d = load_table(get_spark("qc-train"), sf_dir, "documents")
    rows = [
        (int(r.doc_id), r.text)
        for r in d.select("doc_id", "text")
        .orderBy("doc_id")
        .limit(_QC_SAMPLE_CAP)
        .collect()
    ]
    w, b = C.train_quality_classifier(rows)
    return tuple(w), b


def _qc_score_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide scoring as ONE row-local projection
    (classifier.quality_logit_column): the 256-weight vector rides as
    a literal array, each token does one md5 + element_at lookup,
    the fold runs in token order, dense surface slots come off the
    same scan — zero shuffles, zero joins, whole plan is
    scan-project (plan-pinned). Raw-logit sign is the keep decision;
    no libm transcendentals, so the cross-engine value hash is
    exact. (History: the first version bucket-counted via
    groupBy(doc_id, bucket) + broadcast weight join + a second
    doc_id agg — two shuffles and a join for something a pure
    expression does.)"""
    from env_event_stream_spark.operators import classifier as C

    w, bias = _qc_model_spark_cached(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    z = C.quality_logit_column(F.col("text"), list(w), bias)
    return d.select(
        "doc_id",
        F.round(z, 6).alias("logit"),
        (z >= 0).alias("pred_keep"),
    )


def _qc_weight_values() -> str:
    from env_event_stream_spark.operators import classifier as C

    w, _ = _qc_model_cached(_oracle_sf_dir())
    return "[" + ", ".join(
        repr(float(x)) for x in w[: C.N_BUCKETS]
    ) + "]::DOUBLE[]"


def _qc_score_ctes() -> str:
    """One CTE computing the raw logit z per doc — the exact
    token-order fold quality_logit_column runs: weight-array literal
    (1-based list index), list_sum in token order, dense slots, the
    same left-to-right addition chain."""
    from env_event_stream_spark.operators import classifier as C

    w, bias = _qc_model_cached(_oracle_sf_dir())
    h = _hex32_sql("md5(x)")
    wi, wm, wa, ws = (repr(float(w[C.N_BUCKETS + i])) for i in range(4))
    return f"""
    wl AS (SELECT {_qc_weight_values()} AS a),
    s AS (SELECT doc_id,
                 list_sum(list_transform(tk,
                     x -> a[({h} % {C.N_BUCKETS}) + 1])) / len(tk)
                 + {wi} * (1.0 / len(tk))
                 + {wm} * ((list_sum(list_transform(tk, x -> len(x))) * 1.0
                            / len(tk)) / 10.0)
                 + {wa} * coalesce(len(regexp_replace(text, '[^A-Za-z]', '',
                            'g')) * 1.0 / nullif(len(text), 0), 0.0)
                 + {ws} * (CASE WHEN len(list_filter(tk,
                        x -> list_contains(['the','a','of','and'], x))) > 0
                      THEN 1.0 ELSE 0.0 END)
                 + {repr(float(bias))} AS z
          FROM t CROSS JOIN wl)
    """


def _qc_oracle() -> str:
    return (
        "WITH "
        + _TOKENS_CTE.lstrip()
        + ","
        + _qc_score_ctes()
        + """
    SELECT doc_id, round(z, 6) AS logit, z >= 0 AS pred_keep FROM s
    """
    )


@query("doc_quality_classifier", _qc_oracle)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style learned quality filter: logistic regression
    over 256 hashed-unigram buckets, trained deterministically on the
    1000 lowest-id documents with the Gopher rules as labels
    (operators/classifier.py — shared float64 trainer, weights
    rounded 9dp and literal-inlined into the oracle), then scored
    over the WHOLE corpus with the weights broadcast back. The model
    generalizes the heuristic labels: scoring is hash + weighted sum,
    O(tokens) per doc with an O(256) model, one doc_id-keyed shuffle.
    Output is the raw logit (sign = keep) — scoring has no
    transcendentals, so both engines agree bit-exactly."""
    return _qc_score_frame(spark, sf_dir)


# Gopher-rule label CTEs (the classifier's training labels), shared
# by the eval confusion matrix and the calibration table oracles.
_QC_LABEL_CTES = """
    m AS (SELECT t.doc_id,
                 len(tk) AS n_tokens,
                 list_sum(list_transform(tk, x -> len(x))) * 1.0
                   / nullif(len(tk), 0) AS mwl,
                 len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                   / nullif(len(text), 0) AS ar,
                 len(list_filter(tk,
                     x -> list_contains(['the','a','of','and'], x))) > 0
                   AS hs
          FROM t),
    lab AS (SELECT doc_id,
                   coalesce(n_tokens BETWEEN 10 AND 100000, false)
                     AND coalesce(mwl BETWEEN 2 AND 12, false)
                     AND coalesce(ar >= 0.55, false) AND hs AS y
            FROM m)"""


def _qc_eval_oracle() -> str:
    return (
        "WITH "
        + _TOKENS_CTE.lstrip()
        + ","
        + _qc_score_ctes()
        + """,
    pred AS (SELECT doc_id, z >= 0 AS p FROM s),"""
        + _QC_LABEL_CTES
        + """
    SELECT CAST(count(*) FILTER (y AND p) AS BIGINT) AS tp,
           CAST(count(*) FILTER (NOT y AND p) AS BIGINT) AS fp,
           CAST(count(*) FILTER (y AND NOT p) AS BIGINT) AS fn,
           CAST(count(*) FILTER (NOT y AND NOT p) AS BIGINT) AS tn,
           round(count(*) FILTER (y = p) * 1.0 / count(*), 4) AS accuracy
    FROM pred JOIN lab USING (doc_id)
    """
    )


@query("doc_quality_classifier_eval", _qc_eval_oracle)
def doc_quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + accuracy of the learned filter against the
    Gopher rule labels over the WHOLE corpus (train sample is the
    1000 lowest ids; at sf>0.01 the rest is honest held-out data) —
    the rollout gate for replacing rule-filtering with the model.
    Reuses the classifier scoring frame and the gopher rule
    expressions; one broadcast-joined comparison, two scans."""
    preds = _qc_score_frame(spark, sf_dir).select("doc_id", "pred_keep")
    g = doc_gopher_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("y")
    )
    j = preds.join(g, "doc_id")
    p, y = F.col("pred_keep"), F.col("y")
    return j.agg(
        F.sum((y & p).cast("bigint")).alias("tp"),
        F.sum(((~y) & p).cast("bigint")).alias("fp"),
        F.sum((y & (~p)).cast("bigint")).alias("fn"),
        F.sum(((~y) & (~p)).cast("bigint")).alias("tn"),
        F.round(
            F.sum((y == p).cast("int")) * 1.0 / F.count("*"), 4
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# CCNet-style corpus curation: perplexity bucketing + vocabulary coverage
# ---------------------------------------------------------------------------


@query(
    "doc_perplexity_buckets",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
    vocab AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    tot AS (SELECT count(*) AS n FROM tok),
    lp AS (SELECT doc_id, round(avg(ln(cnt * 1.0 / n)), 4) AS alp
           FROM tok JOIN vocab USING (term) CROSS JOIN tot
           GROUP BY doc_id),
    b AS (SELECT d.source, lp.doc_id, alp,
                 ntile(3) OVER (PARTITION BY d.source
                                ORDER BY alp DESC, lp.doc_id ASC) AS bucket
          FROM lp JOIN documents d ON d.doc_id = lp.doc_id)
    SELECT source,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(round(min(alp), 4) AS DOUBLE) AS min_logprob,
           CAST(round(max(alp), 4) AS DOUBLE) AS max_logprob,
           CAST(round(sum(CAST(alp AS DECIMAL(14,4))), 4) AS DOUBLE)
             AS sum_logprob
    FROM b GROUP BY source, bucket
    """,
)
def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020):
    score every document with the corpus-trained unigram LM
    (doc_unigram_logprob's plan), then split each source into
    perplexity terciles — the standard curation move that keeps the
    fluent "head" and drops or downweights the noisy "tail" per
    domain. The ntile orders by the 4dp-ROUNDED logprob with a doc_id
    tie-break, so the bucket boundary is decided on values both
    engines agree on bit-exactly; per-bucket sums ride an exact
    DECIMAL so no double-sum-order flip can move the output. Plan:
    the token stream shuffles once (doc_id agg), vocab + total are
    broadcast, the tercile window is one |docs|-row sort per source
    (at 100 TB swap ntile for broadcast percentile cut-points, same
    as evt_rfm_segments documents)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # total = rollup of the vocab counts (see doc_unigram_logprob) —
    # two corpus explodes instead of three
    vocab = (
        t.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = vocab.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"))
    lp = (
        t.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("cnt") * 1.0 / F.col("n"))), 4
            ).alias("alp")
        )
    )
    b = lp.join(d.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("alp").desc(), F.col("doc_id").asc()
    )
    return (
        b.withColumn("bucket", F.ntile(3).over(w))
        .groupBy("source", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.min("alp"), 4).cast("double").alias("min_logprob"),
            F.round(F.max("alp"), 4).cast("double").alias("max_logprob"),
            F.round(F.sum(F.col("alp").cast("decimal(14,4)")), 4)
            .cast("double")
            .alias("sum_logprob"),
        )
        .select(
            "source",
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs",
            "min_logprob",
            "max_logprob",
            "sum_logprob",
        )
    )


@query(
    "doc_vocab_coverage",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
    vc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    v AS (SELECT term FROM vc ORDER BY cnt DESC, term ASC LIMIT 256)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (v.term IS NULL) AS BIGINT) AS n_oov,
           CAST(count(*) FILTER (v.term IS NULL) * 1000000
                // count(*) AS BIGINT) AS oov_ppm
    FROM tok LEFT JOIN v ON tok.term = v.term
    GROUP BY tok.doc_id
    """,
)
def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-256 corpus
    vocabulary (count desc, term asc — the deterministic WordPiece-
    style frequency cut) and report each document's out-of-vocabulary
    token count and rate. The OOV rate is the standard proxy for "will
    the tokenizer shatter this document into bytes" — high-OOV docs
    get routed to vocab retraining or dropped. Rate is integer-exact
    ppm (count * 1e6 DIV n) — no float division to tie-flip. Plan:
    vocab top-k is TakeOrdered over the term counts (map-side
    combined), then broadcast; the token stream itself shuffles once
    for the per-doc agg. At 100 TB the vocab is KBs regardless of
    corpus size — the broadcast never grows."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    v = (
        t.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(256)
        .select("term", F.lit(1).alias("in_v"))
    )
    return (
        t.join(F.broadcast(v), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_ppm",
            F.expr("n_oov * 1000000L DIV n_tokens").cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding-space corpus curation: OOD outliers + cluster-balanced sampling
# ---------------------------------------------------------------------------


@query(
    "doc_token_budget_recipe",
    r"""
    WITH t AS (SELECT source,
                      len(string_split_regex(trim(text), '\s+')) AS n_tok
               FROM documents),
    s AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS avail_tokens,
                 CAST(sum(CASE WHEN n_tok >= 50 THEN n_tok ELSE 0 END)
                      AS BIGINT) AS kept_tokens
          FROM t GROUP BY source),
    tot AS (SELECT sum(kept_tokens) AS tk FROM s)
    SELECT source, n_docs, avail_tokens, kept_tokens,
           CAST(1000000 * kept_tokens // tk AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN kept_tokens = 0 THEN 0
                ELSE (1000000 * kept_tokens // tk) * 1000000 // kept_tokens
                END AS BIGINT) AS epochs_ppm
    FROM s CROSS JOIN tot
    """,
)
def doc_token_budget_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static data-recipe planner: allocate a 1M-token training
    budget across sources proportionally to their QUALITY-KEPT token
    mass (docs >= 50 tokens — stand-in for the full Gopher gate), and
    report the implied epoch count per source (how many times that
    source must repeat to fill its allocation — the DoReMi/Pile-style
    mixture table a pretraining run starts from). All integer-exact
    math (alloc = budget * kept // total, epochs in ppm) — nothing to
    round or tie-flip. Plan: one map-side-combined groupBy(source) over
    a row-local token count; the 20-row source table then meets a
    1-row broadcast total. At 100 TB this is the same two-stage agg —
    recipe planning is never the bottleneck."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    s = t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("avail_tokens"),
        F.sum(F.when(F.col("n_tok") >= 50, F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    tot = s.agg(F.sum("kept_tokens").alias("tk"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "avail_tokens",
        "kept_tokens",
        F.expr("1000000L * kept_tokens DIV tk").cast("bigint")
        .alias("alloc_tokens"),
        F.when(F.col("kept_tokens") == 0, F.lit(0))
        .otherwise(
            F.expr("(1000000L * kept_tokens DIV tk) * 1000000L DIV kept_tokens")
        )
        .cast("bigint")
        .alias("epochs_ppm"),
    )


# ---------------------------------------------------------------------------
# Tokenizer training: distributed BPE merge learning
# ---------------------------------------------------------------------------


def _bpe_merges_oracle() -> str:
    """Lazy oracle: retrain the first 10 BPE merges with the PURE
    PYTHON reference trainer (operators/bpe.learn_merges_py) on word
    counts tokenized by DuckDB itself (the same
    string_split_regex(trim(text)) contract every other oracle uses),
    and inline the merge table as VALUES literals. The Spark side
    trains DISTRIBUTED (pair-explode + agg per round); all math is
    exact integers with a total-order tie-break, so the two
    independent trainers must agree bit-for-bit — their agreement is
    the check (see operators/bpe.py)."""
    import duckdb

    from env_event_stream_spark.operators.bpe import learn_merges_py

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        rf"""
        WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS tk
                   FROM '{sf}/documents.parquet'),
        tok AS (SELECT unnest(tk) AS term FROM t)
        SELECT term, count(*) AS freq FROM tok GROUP BY term
        """
    ).fetchall()
    merges = learn_merges_py({w: f for w, f in rows}, 10)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"(CAST({r} AS BIGINT), {q(a)}, {q(b)}, {q(a + b)}, "
        f"CAST({w} AS BIGINT))"
        for r, a, b, w in merges
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS t(rank, left_sym, right_sym, merged, weight)"
    )


@query("doc_bpe_learn_merges", _bpe_merges_oracle)
def doc_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 10 BPE merges over the corpus, distributed
    (Sennrich et al. 2016) — the tokenizer-training stage of the
    pipeline, run the way HF trainers run it: on the word-FREQUENCY
    table, so the corpus shuffles once (word counts) and each round
    touches only |vocab| rows (pair explode → map-side-combined agg →
    1-row collect = the model update; merges applied row-locally,
    lineage truncated per round). See operators/bpe.py for the scale
    shape and why the oracle trainer is deliberately an independent
    implementation."""
    merges = _bpe_merges_spark_cached(sf_dir)
    return small_model_frame(
        spark,
        [(r, a, b, a + b, w) for r, a, b, w in merges],
        "rank bigint, left_sym string, right_sym string, "
        "merged string, weight bigint",
    )


@_functools.lru_cache(maxsize=4)
def _bpe_merges_spark_cached(sf_dir: str) -> tuple:
    """Memoized distributed-training result per sf_dir (the
    _pq_books_spark_cached pattern) so doc_bpe_learn_merges and
    doc_bpe_apply train once per process."""
    from pyspark.sql import SparkSession

    from env_event_stream_spark.operators.bpe import learn_merges

    spark = SparkSession.getActiveSession()
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    _SPARK_TRAIN_DIRS.add(sf_dir)
    return tuple(learn_merges(words, 10))


def _bpe_apply_oracle() -> str:
    """Lazy oracle: retrain merges with the independent Python
    trainer, apply them (shared applier) to DuckDB-tokenized
    per-source word bags, and inline the 20-row per-source encoding
    report as VALUES. Integer-exact throughout."""
    import duckdb

    from env_event_stream_spark.operators.bpe import (
        apply_merges_py,
        learn_merges_py,
    )

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        rf"""
        WITH t AS (SELECT source,
                          string_split_regex(trim(text), '\s+') AS tk
                   FROM '{sf}/documents.parquet'),
        tok AS (SELECT source, unnest(tk) AS term FROM t)
        SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2
        """
    ).fetchall()
    wf: dict[str, int] = {}
    for _, w, c in rows:
        wf[w] = wf.get(w, 0) + c
    merges = [(a, b) for _, a, b, _ in learn_merges_py(wf, 10)]
    enc = {w: apply_merges_py(w, merges) for w in wf}

    agg: dict[str, list[int]] = {}
    for src, w, c in rows:
        a = agg.setdefault(src, [0, 0, 0])
        a[0] += c
        a[1] += len(w) * c
        a[2] += len(enc[w]) * c
    vals = ", ".join(
        f"('{src}', CAST({a[0]} AS BIGINT), CAST({a[1]} AS BIGINT), "
        f"CAST({a[2]} AS BIGINT), "
        f"CAST(CASE WHEN {a[1]} = 0 THEN 0 "
        f"ELSE CAST({a[2]} AS BIGINT) * 1000000 // {a[1]} END AS BIGINT))"
        for src, a in sorted(agg.items())
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS t(source, n_ws_tokens, n_chars, n_bpe_tokens, tokens_per_mchar)"
    )


@query("doc_bpe_apply", _bpe_apply_oracle)
def doc_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the learned BPE merges and report the
    per-source compression: whitespace tokens, raw characters, BPE
    symbols after 10 merges, and symbols-per-million-chars — the
    "how much does this tokenizer actually compress each domain"
    readout that decides whether the vocab needs more merges. The
    merge table is applied to the DEDUPLICATED vocabulary (an Arrow
    mapInPandas over |vocab| rows — merge work is O(vocab), not
    O(corpus)) and the per-word symbol counts are broadcast back
    onto the per-source word bag. Integer-exact output. At 100 TB:
    one (source, word) pre-agg shuffle, vocab-sized model work,
    20-row result."""
    from env_event_stream_spark.operators.bpe import apply_merges_py

    merges = [(a, b) for _, a, b, _ in _bpe_merges_spark_cached(sf_dir)]

    d = load_table(spark, sf_dir, "documents")
    bag = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = bag.select("word").distinct()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            words = list(pdf["word"])
            yield pd.DataFrame(
                {
                    "word": words,
                    "n_sym": [len(apply_merges_py(w, merges)) for w in words],
                    "n_chr": [len(w) for w in words],
                }
            )

    sym = vocab.mapInPandas(
        encode, "word string, n_sym bigint, n_chr bigint"
    )
    return (
        bag.join(F.broadcast(sym), "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_ws_tokens"),
            F.sum(F.col("n_chr") * F.col("cnt")).cast("bigint")
            .alias("n_chars"),
            F.sum(F.col("n_sym") * F.col("cnt")).cast("bigint")
            .alias("n_bpe_tokens"),
        )
        .withColumn(
            "tokens_per_mchar",
            F.when(F.col("n_chars") == 0, F.lit(0))
            .otherwise(F.expr("n_bpe_tokens * 1000000L DIV n_chars"))
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer training, rung 2: SentencePiece-style unigram-LM subword
# vocabulary via distributed hard-EM (Kudo 2018) — the probabilistic
# alternative to BPE's greedy merges. See operators/unigram_lm.py
# for the integer-quantization and two-independent-trainers design.
# ---------------------------------------------------------------------------


def _ulm_word_freq_duck(sf: str, split: str) -> dict:
    """Oracle-side word-frequency loader (DuckDB, the exact
    string_split_regex contract every oracle uses). split: 'full',
    'train' (md5 bucket < 80) or 'test' (bucket >= 90) — the
    doc_lm_heldout_eval hash-split convention."""
    import duckdb

    cond = {
        "full": "TRUE",
        "train": "bucket < 80",
        "test": "bucket >= 90",
    }[split]
    rows = duckdb.sql(
        rf"""
        WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS tk,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                           1, 8))::BIGINT % 100 AS bucket
                   FROM '{sf}/documents.parquet'),
        tok AS (SELECT unnest(tk) AS term FROM t WHERE {cond})
        SELECT term, count(*) AS freq FROM tok GROUP BY term
        """
    ).fetchall()
    return {w: f for w, f in rows}


def _ulm_words_spark(spark: SparkSession, sf_dir: str, split: str):
    """Engine-side (word, freq) table for a hash-split subset — one
    corpus shuffle (the BPE substrate)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint") % 100
    )
    t = d.select(
        bucket.alias("bucket"),
        F.explode(tokens(F.col("text"))).alias("word"),
    )
    if split == "train":
        t = t.where(F.col("bucket") < 80)
    elif split == "test":
        t = t.where(F.col("bucket") >= 90)
    return t.groupBy("word").agg(F.count("*").alias("freq"))


@_functools.lru_cache(maxsize=8)
def _ulm_spark_cached(sf_dir: str, split: str) -> tuple:
    """Memoized distributed unigram-LM model per (sf_dir, split) —
    the _bpe_merges_spark_cached pattern, registered so the lazy
    oracle provably trains on the same data."""
    from pyspark.sql import SparkSession

    from env_event_stream_spark.operators.unigram_lm import (
        train_unigram_lm,
    )

    spark = SparkSession.getActiveSession()
    _SPARK_TRAIN_DIRS.add(sf_dir)
    return tuple(
        train_unigram_lm(_ulm_words_spark(spark, sf_dir, split))
    )


def _ulm_learn_oracle() -> str:
    """Lazy oracle: retrain with the independent pure-Python trainer
    (dict loops + memoized top-down Viterbi — see
    operators/unigram_lm.py) on DuckDB-tokenized word counts, inline
    the final model as VALUES. Bit-for-bit agreement with the
    distributed trainer IS the check (the BPE discipline)."""
    from env_event_stream_spark.operators.unigram_lm import (
        train_unigram_lm_py,
    )

    model = train_unigram_lm_py(
        _ulm_word_freq_duck(_oracle_sf_dir(), "full")
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(p)}, CAST({ln} AS BIGINT), CAST({c} AS BIGINT), "
        f"CAST({ppm} AS BIGINT), CAST({cost} AS BIGINT))"
        for p, ln, c, ppm, cost in model
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS t(piece, piece_len, viterbi_count, prob_ppm, cost_micronat)"
    )


@query("doc_unigram_lm_learn", _ulm_learn_oracle)
def doc_unigram_lm_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a SentencePiece-style unigram-LM subword vocabulary over
    the corpus, distributed (Kudo 2018, hard-EM): seed with the
    highest-mass substrings (+ every single char — the coverage
    floor), then 3 Viterbi-EM iterations — E-step segments every
    DISTINCT word by min integer micro-nat cost, M-step re-counts
    pieces with add-one smoothing — with one SentencePiece-style
    prune after the first iteration. Output: the final model (piece,
    length, raw Viterbi count, smoothed prob in ppm, micro-nat cost).

    Integer-quantized iterations (the emb_kmeans_lloyd treatment):
    costs are quantized ONCE per iteration on the driver (one libm
    ln per piece), so every executor- and oracle-side comparison is
    exact integer arithmetic and the cross-engine hash survives.
    Plan/scale: the corpus shuffles once into the word-frequency
    table; each EM iteration is one Arrow pass over that table (the
    vocab-sized cost dict rides the closure) + one map-side-combined
    piece agg; the driver only reads vocab-sized models. Oracle: the
    INDEPENDENT pure-Python trainer, VALUES-inlined; the two Viterbi
    mechanizations are fuzz-pinned in tests/test_unigram_lm.py.
    Reference analog: none; §2.11 tokenizer-training extension
    (VERDICT r9 task 4)."""
    model = _ulm_spark_cached(sf_dir, "full")
    return small_model_frame(
        spark,
        list(model),
        "piece string, piece_len bigint, viterbi_count bigint, "
        "prob_ppm bigint, cost_micronat bigint",
    )


def _ulm_eval_py(sf: str) -> tuple:
    """Pure-Python replay of the held-out eval: train BOTH models on
    the train split, score the test split. Returns the single result
    row (shared by the oracle; the ENGINE path recomputes it
    distributed — trainer caching keeps them on the same data)."""
    from env_event_stream_spark.operators.unigram_lm import (
        quant_cost,
        train_unigram_lm_py,
        viterbi_rec,
    )

    train = _ulm_word_freq_duck(sf, "train")
    test = _ulm_word_freq_duck(sf, "test")
    model = train_unigram_lm_py(train)
    costs = {p: cost for p, _, _, _, cost in model}
    n_w = sum(train.values())
    v_w = len(train)
    wcost = {w: quant_cost(c + 1, n_w + v_w + 1) for w, c in train.items()}
    oov_cost = quant_cost(1, n_w + v_w + 1)
    n_tokens = 0
    n_oov = 0
    sub_total = 0
    word_total = 0
    for w, f in test.items():
        pieces = viterbi_rec(w, costs)
        if pieces is None:
            raise ValueError(f"ulm eval: unsegmentable test word {w!r}")
        n_tokens += f
        sub_total += f * sum(costs[p] for p in pieces)
        if w in wcost:
            word_total += f * wcost[w]
        else:
            n_oov += f
            word_total += f * oov_cost
    winner = (
        "subword"
        if sub_total < word_total
        else ("word" if word_total < sub_total else "tie")
    )
    return (
        n_tokens,
        n_oov,
        sub_total,
        word_total,
        sub_total // max(n_tokens, 1),
        word_total // max(n_tokens, 1),
        winner,
    )


def _ulm_eval_oracle() -> str:
    r = _ulm_eval_py(_oracle_sf_dir())
    return (
        f"SELECT CAST({r[0]} AS BIGINT) AS n_test_tokens, "
        f"CAST({r[1]} AS BIGINT) AS n_oov_tokens, "
        f"CAST({r[2]} AS BIGINT) AS sub_total_micronat, "
        f"CAST({r[3]} AS BIGINT) AS word_total_micronat, "
        f"CAST({r[4]} AS BIGINT) AS sub_per_token, "
        f"CAST({r[5]} AS BIGINT) AS word_per_token, "
        f"'{r[6]}' AS winner"
    )


@query("doc_unigram_lm_eval", _ulm_eval_oracle)
def doc_unigram_lm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The honest eval twin for the unigram-LM trainer: train on the
    md5 hash-split TRAIN buckets (< 80, the doc_lm_heldout_eval
    convention), score the TEST buckets (>= 90) under (a) the learned
    subword LM (Viterbi min-cost per word, integer micro-nats summed
    over pieces) vs (b) the word-level add-one unigram LM trained on
    the same split — per-token costs and the winner. EXPECTED verdict
    on this synthetic corpus: the word LM wins (a 31-word closed
    vocabulary has no OOV, so memorizing words beats paying per
    piece); the subword LM's advantage is OOV robustness, which the
    n_oov_tokens column makes visible — the honest-negative
    discipline of emb_kmeans_ivf_eval / emb_whiten_labelknn_eval.

    Plan: both models are vocab-sized driver reads off one word-count
    shuffle per split; test scoring is one Arrow pass over the
    DISTINCT test-word table (model dicts ride the closure) + a
    1-row agg. Integer end to end after the per-iteration driver
    quantization. Oracle: full pure-Python replay, VALUES-inlined."""
    from typing import Iterator

    from env_event_stream_spark.operators.unigram_lm import (
        quant_cost,
        viterbi_iter,
    )

    model = _ulm_spark_cached(sf_dir, "train")
    costs = {p: cost for p, _, _, _, cost in model}
    train_counts = {
        r["word"]: int(r["freq"])
        for r in _ulm_words_spark(spark, sf_dir, "train").collect()
    }
    n_w = sum(train_counts.values())
    v_w = len(train_counts)
    wcost = {
        w: quant_cost(c + 1, n_w + v_w + 1)
        for w, c in train_counts.items()
    }
    oov_cost = quant_cost(1, n_w + v_w + 1)

    test = _ulm_words_spark(spark, sf_dir, "test")

    def score(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for w, f in zip(pdf["word"], pdf["freq"]):
                pieces = viterbi_iter(w, costs)
                if pieces is None:
                    raise ValueError(
                        f"ulm eval: unsegmentable test word {w!r}"
                    )
                f = int(f)
                sub = f * sum(costs[p] for p in pieces)
                if w in wcost:
                    out.append((f, 0, sub, f * wcost[w]))
                else:
                    out.append((f, f, sub, f * oov_cost))
            yield pd.DataFrame(
                out, columns=["n", "oov", "sub", "wrd"]
            ).astype("int64")

    agg = (
        test.mapInPandas(
            score, "n bigint, oov bigint, sub bigint, wrd bigint"
        )
        .agg(
            # coalesce: Spark's sum over ZERO rows is NULL, but the
            # pure-Python replay returns integer zeros when the md5
            # test split is empty — a degenerate-corpus NULL-vs-0
            # hash divergence without it (review-pass catch)
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_test_tokens"),
            F.coalesce(F.sum("oov"), F.lit(0)).alias("n_oov_tokens"),
            F.coalesce(F.sum("sub"), F.lit(0)).alias(
                "sub_total_micronat"
            ),
            F.coalesce(F.sum("wrd"), F.lit(0)).alias(
                "word_total_micronat"
            ),
        )
    )
    return agg.select(
        F.col("n_test_tokens").cast("bigint").alias("n_test_tokens"),
        F.col("n_oov_tokens").cast("bigint").alias("n_oov_tokens"),
        F.col("sub_total_micronat").cast("bigint")
        .alias("sub_total_micronat"),
        F.col("word_total_micronat").cast("bigint")
        .alias("word_total_micronat"),
        F.expr("sub_total_micronat div greatest(n_test_tokens, 1)")
        .cast("bigint")
        .alias("sub_per_token"),
        F.expr("word_total_micronat div greatest(n_test_tokens, 1)")
        .cast("bigint")
        .alias("word_per_token"),
        F.when(
            F.col("sub_total_micronat") < F.col("word_total_micronat"),
            F.lit("subword"),
        )
        .when(
            F.col("word_total_micronat") < F.col("sub_total_micronat"),
            F.lit("word"),
        )
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )


def _ulm_encode_oracle() -> str:
    """Lazy oracle: retrain with the independent Python trainer,
    Viterbi-encode the DuckDB-tokenized per-source word bags with the
    memoized scanner, inline the 20-row per-source report as VALUES —
    the doc_bpe_apply pattern applied to the unigram LM."""
    from env_event_stream_spark.operators.unigram_lm import (
        train_unigram_lm_py,
        viterbi_rec,
    )

    import duckdb

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        rf"""
        WITH t AS (SELECT source,
                          string_split_regex(trim(text), '\s+') AS tk
                   FROM '{sf}/documents.parquet'),
        tok AS (SELECT source, unnest(tk) AS term FROM t)
        SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2
        """
    ).fetchall()
    wf: dict[str, int] = {}
    for _, w, c in rows:
        wf[w] = wf.get(w, 0) + c
    model = train_unigram_lm_py(wf)
    costs = {p: cost for p, _, _, _, cost in model}
    enc = {w: viterbi_rec(w, costs) for w in wf}

    agg: dict[str, list[int]] = {}
    for src, w, c in rows:
        a = agg.setdefault(src, [0, 0, 0, 0])
        a[0] += c
        a[1] += len(w) * c
        a[2] += len(enc[w]) * c
        a[3] += c * sum(costs[p] for p in enc[w])
    vals = ", ".join(
        f"('{src}', CAST({a[0]} AS BIGINT), CAST({a[1]} AS BIGINT), "
        f"CAST({a[2]} AS BIGINT), "
        f"CAST(CASE WHEN {a[1]} = 0 THEN 0 "
        f"ELSE CAST({a[2]} AS BIGINT) * 1000000 // {a[1]} END AS BIGINT), "
        f"CAST(CASE WHEN {a[2]} = 0 THEN 0 "
        f"ELSE CAST({a[3]} AS BIGINT) // {a[2]} END AS BIGINT))"
        for src, a in sorted(agg.items())
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS t(source, n_ws_tokens, n_chars, n_pieces, "
        "pieces_per_mchar, cost_per_piece_micronat)"
    )


@query("doc_unigram_lm_encode", _ulm_encode_oracle)
def doc_unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the learned unigram-LM vocabulary and
    report per-source compression + model fit: whitespace tokens, raw
    chars, Viterbi piece count, pieces-per-million-chars, and the
    mean micro-nat cost per emitted piece — the apply twin that
    completes the trainer (doc_bpe_apply's readout for the
    probabilistic tokenizer), and the table that compares the two
    tokenizers head-to-head per domain. cost_per_piece is the readout
    BPE cannot give: a domain whose pieces are cheap is well-modeled
    by the vocabulary; an expensive domain is where the next vocab
    iteration should spend its budget.

    Plan: Viterbi work is O(vocab) — one Arrow mapInPandas over the
    DEDUPLICATED word list (Python never sees corpus rows), per-word
    piece counts broadcast back onto the (source, word) bag, one
    20-row agg. Integer-exact: counts are bigint sums; both ratios
    are floor divisions. At 100 TB: one (source, word) pre-agg
    shuffle, vocab-sized model work — the doc_bpe_apply shape."""
    from env_event_stream_spark.operators.unigram_lm import viterbi_iter

    model = _ulm_spark_cached(sf_dir, "full")
    costs = {p: cost for p, _, _, _, cost in model}

    d = load_table(spark, sf_dir, "documents")
    bag = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = bag.select("word").distinct()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            words = list(pdf["word"])
            segs = [viterbi_iter(w, costs) for w in words]
            for w, s in zip(words, segs):
                if s is None:
                    raise ValueError(
                        f"ulm encode: unsegmentable word {w!r}"
                    )
            yield pd.DataFrame(
                {
                    "word": words,
                    "n_piece": [len(s) for s in segs],
                    "n_chr": [len(w) for w in words],
                    "w_cost": [
                        sum(costs[p] for p in s) for s in segs
                    ],
                }
            ).astype(
                {
                    "word": "string",
                    "n_piece": "int64",
                    "n_chr": "int64",
                    "w_cost": "int64",
                }
            )

    sym = vocab.mapInPandas(
        encode, "word string, n_piece bigint, n_chr bigint, w_cost bigint"
    )
    return (
        bag.join(F.broadcast(sym), "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_ws_tokens"),
            F.sum(F.col("n_chr") * F.col("cnt")).cast("bigint")
            .alias("n_chars"),
            F.sum(F.col("n_piece") * F.col("cnt")).cast("bigint")
            .alias("n_pieces"),
            F.sum(F.col("w_cost") * F.col("cnt")).cast("bigint")
            .alias("_cost_total"),
        )
        .select(
            "source",
            "n_ws_tokens",
            "n_chars",
            "n_pieces",
            F.when(F.col("n_chars") == 0, F.lit(0))
            .otherwise(F.expr("n_pieces * 1000000L DIV n_chars"))
            .cast("bigint")
            .alias("pieces_per_mchar"),
            F.when(F.col("n_pieces") == 0, F.lit(0))
            .otherwise(F.expr("_cost_total DIV n_pieces"))
            .cast("bigint")
            .alias("cost_per_piece_micronat"),
        )
    )


def _ulm_prune_losses_py(model: list, word_freq: dict) -> dict:
    """Shared loss arithmetic CONTRACT, implemented twice (this is
    the oracle/pytest side; the engine re-derives it row-wise inside
    the Arrow stage): for every multi-char piece p in the model,
    loss(p) = Σ_w freq(w) · (viterbi_cost(w | vocab \\ {p}) −
    viterbi_cost(w | vocab)) over the words whose CURRENT best
    segmentation uses p — the likelihood the corpus loses if p is
    dropped (Kudo 2018's prune criterion, exact integers here because
    costs are already quantized micro-nats). Dropping a piece never
    breaks coverage: single chars are never candidates."""
    from env_event_stream_spark.operators.unigram_lm import viterbi_rec

    costs = {p: cost for p, _, _, _, cost in model}
    losses = {p: [0, 0] for p in costs if len(p) >= 2}  # n_words, loss
    for w, f in word_freq.items():
        seg = viterbi_rec(w, costs)
        cur = sum(costs[p] for p in seg)
        for p in {p for p in seg if len(p) >= 2}:
            wo = dict(costs)
            del wo[p]
            alt_seg = viterbi_rec(w, wo)
            alt = sum(wo[q] for q in alt_seg)
            losses[p][0] += 1
            losses[p][1] += f * (alt - cur)
    return losses


def _ulm_prune_oracle() -> str:
    from env_event_stream_spark.operators.unigram_lm import (
        train_unigram_lm_py,
    )

    wf = _ulm_word_freq_duck(_oracle_sf_dir(), "full")
    losses = _ulm_prune_losses_py(train_unigram_lm_py(wf), wf)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(p)}, CAST({len(p)} AS BIGINT), CAST({n} AS BIGINT), "
        f"CAST({l} AS BIGINT))"
        for p, (n, l) in sorted(losses.items())
    )
    return (
        f"SELECT * FROM (VALUES {vals}) "
        "AS t(piece, piece_len, n_words_using, loss_micronat)"
    )


@query("doc_unigram_lm_prune_eval", _ulm_prune_oracle)
def doc_unigram_lm_prune_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TRUE SentencePiece prune criterion (Kudo 2018 §3.2),
    exact: for every multi-char piece in the learned vocabulary, the
    corpus-likelihood LOSS of dropping it — each word currently
    segmented through the piece is re-segmented without it and pays
    the (integer micro-nat) cost delta, weighted by word frequency.
    The trainer's count-based prune is the cheap in-loop heuristic;
    THIS is the number the next vocab-size decision should rank on
    (loss 0 = the piece is free to drop; the count-kept zero-loss
    pieces the prune let through are exactly what it exposes).
    Single chars are never candidates (coverage guarantee), so every
    re-segmentation exists.

    Plan: one Arrow pass over the DISTINCT word table (the model +
    per-piece cost tables ride the closure; re-segmentation work is
    O(pieces-per-word · |w|²) per word, vocab-bounded), one
    map-side-combinable per-piece agg, and a broadcast join back onto
    the vocab-sized multi list so unused pieces report loss 0 rather
    than vanishing. Integer end to end. Oracle: independent
    pure-Python replay over the memoized-Viterbi scanner,
    VALUES-inlined; engine-vs-replay equality pytested."""
    from typing import Iterator

    from env_event_stream_spark.operators.unigram_lm import viterbi_iter

    model = _ulm_spark_cached(sf_dir, "full")
    costs = {p: cost for p, _, _, _, cost in model}
    multis = sorted(p for p in costs if len(p) >= 2)

    words = _ulm_words_spark(spark, sf_dir, "full")

    def score(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for w, f in zip(pdf["word"], pdf["freq"]):
                seg = viterbi_iter(w, costs)
                cur = sum(costs[p] for p in seg)
                for p in {p for p in seg if len(p) >= 2}:
                    wo = dict(costs)
                    del wo[p]
                    alt_seg = viterbi_iter(w, wo)
                    alt = sum(wo[q] for q in alt_seg)
                    out.append((p, 1, int(f) * (alt - cur)))
            yield pd.DataFrame(
                out, columns=["piece", "n", "loss"]
            ).astype({"piece": "string", "n": "int64", "loss": "int64"})

    agg = (
        words.mapInPandas(score, "piece string, n bigint, loss bigint")
        .groupBy("piece")
        .agg(
            F.sum("n").alias("n_words_using"),
            F.sum("loss").alias("loss_micronat"),
        )
    )
    base = small_model_frame(
        spark, [(p,) for p in multis], "piece string"
    )
    return base.join(F.broadcast(agg), "piece", "left").select(
        "piece",
        F.length("piece").cast("bigint").alias("piece_len"),
        F.coalesce("n_words_using", F.lit(0))
        .cast("bigint")
        .alias("n_words_using"),
        F.coalesce("loss_micronat", F.lit(0))
        .cast("bigint")
        .alias("loss_micronat"),
    )


@query(
    "doc_winnow_pairs",
    r"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(
                        trim(text, ' ' || chr(9) || chr(10) || chr(11)
                             || chr(12) || chr(13)),
                        '[ \t\n\x0b\f\r]+') AS tk
               FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS gr
          FROM t WHERE len(tk) >= 3),
    h AS (SELECT doc_id,
                 list_transform(gr,
                   x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
          FROM g),
    w AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(hs) - 2),
                   i -> list_min(list_slice(hs, i, i + 3)))) AS fps
          FROM h WHERE len(hs) >= 4),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    dfq AS (SELECT fp, count(*) AS dfreq FROM fp GROUP BY fp),
    kept AS (SELECT doc_id, f.fp FROM fp f JOIN dfq USING (fp)
             WHERE dfreq <= 50),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
          FROM kept a JOIN kept b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM p WHERE n_shared >= 2
    """,
)
def doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing / MOSS overlap detection (Schleimer et al. SIGMOD'03):
    document pairs sharing >= 2 winnowed fingerprints — window-min
    selection over md5 k-gram hashes guarantees any shared run of
    k+w-1=6 words surfaces at least one identical fingerprint while
    indexing only ~1/w of the grams (the storage trade MinHash can't
    make: winnowing localizes WHERE the overlap is and never misses a
    long-enough match; MinHash estimates global similarity). Plan:
    fingerprint selection is row-local (zero shuffles), the pair join
    is the same bounded inverted-index shape as jaccard_pairs but on
    a 4x smaller index, hot fingerprints capped at df<=50."""
    d = load_table(spark, sf_dir, "documents")
    return D.winnow_pairs(
        d, "text", "doc_id", k=3, w=4, df_cap=50, min_shared=2
    )


@query(
    "doc_lm_heldout_eval",
    r"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(trim(text), '\s+') AS tk,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 100 AS bucket
               FROM documents),
    tok AS (SELECT doc_id, bucket, unnest(tk) AS term FROM t),
    vocab AS (SELECT term, count(*) AS cnt FROM tok
              WHERE bucket < 80 GROUP BY term),
    m AS (SELECT (SELECT sum(cnt) FROM vocab) AS n,
                 (SELECT count(*) FROM vocab) AS v),
    te AS (SELECT doc_id, term FROM tok WHERE bucket >= 90)
    SELECT te.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (vocab.term IS NULL) AS BIGINT) AS n_oov,
           round(avg(ln((coalesce(cnt, 0) + 1) * 1.0 / (n + v + 1))), 4)
             AS avg_logprob
    FROM te LEFT JOIN vocab ON te.term = vocab.term CROSS JOIN m
    GROUP BY te.doc_id
    """,
)
def doc_lm_heldout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model evaluation: train the unigram LM on
    the hash-split TRAIN buckets (md5 < 80, the doc_hash_split_sample
    contract) and score only the TEST buckets (>= 90) with add-one
    smoothing over the train vocabulary (+1 OOV class) — the honest
    generalization readout the in-corpus doc_unigram_logprob can't
    give (it scores docs with a model that saw them). Per-doc mean
    logprob + OOV count, 4dp. Plan: train counts aggregate map-side
    and broadcast with the two model scalars; the test token stream
    shuffles once for the per-doc agg. At 100 TB the model is
    vocab-sized, the split is a pure hash function — no sampling
    state."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint") % 100
    )
    tok = d.select(
        "doc_id", bucket.alias("bucket"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    vocab = (
        tok.where(F.col("bucket") < 80)
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        # lazy checkpoint (r16): vocab feeds both the model-size row
        # and the broadcast join — without it the train-side explode
        # subtree expands twice in the plan
        .localCheckpoint(eager=False)
    )
    m = vocab.agg(
        F.sum("cnt").alias("n"), F.count("*").alias("v")
    )
    te = tok.where(F.col("bucket") >= 90)
    return (
        te.join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(m))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                        * 1.0
                        / (F.col("n") + F.col("v") + 1)
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
    )


@query(
    "doc_winnow_spans",
    r"""
    WITH t AS (SELECT doc_id,
                      string_split_regex(
                        trim(text, ' ' || chr(9) || chr(10) || chr(11)
                             || chr(12) || chr(13)),
                        '[ \t\n\x0b\f\r]+') AS tk
               FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS gr
          FROM t WHERE len(tk) >= 3),
    h AS (SELECT doc_id,
                 list_transform(gr,
                   x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
          FROM g),
    w AS (SELECT doc_id,
                 list_transform(range(1, len(hs) - 2),
                   i -> {'i': i, 'v': list_min(list_slice(hs, i, i + 3))})
                   AS ws
          FROM h WHERE len(hs) >= 4),
    flat AS (SELECT doc_id, unnest(ws, recursive := true) FROM w),
    fp AS (SELECT doc_id, v AS fp, min(i) AS pos
           FROM flat GROUP BY doc_id, v),
    dfq AS (SELECT fp, count(*) AS dfreq FROM fp GROUP BY fp),
    kept AS (SELECT doc_id, f.fp, pos FROM fp f JOIN dfq USING (fp)
             WHERE dfreq <= 50),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS n_shared,
                 min(a.pos) AS a_first, max(a.pos) AS a_last,
                 min(b.pos) AS b_first, max(b.pos) AS b_last
          FROM kept a JOIN kept b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(a_first AS BIGINT) AS a_first,
           CAST(a_last AS BIGINT) AS a_last,
           CAST(b_first AS BIGINT) AS b_first,
           CAST(b_last AS BIGINT) AS b_last
    FROM p WHERE n_shared >= 2
    """,
)
def doc_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE each near-dup overlap lives: the gram-position extent of
    the shared winnowed fingerprints on both sides of every matching
    pair — the localization that makes winnowing a SCRUB input, not
    just a detector (MinHash scores similarity; this says which span
    to re-examine/cut; contrast doc_contamination_spans, the
    train-vs-EVAL twin). Each fingerprint carries the 1-based index
    of the first window that selected it (np.unique(return_index) in
    the same zero-shuffle Arrow pass); the pair join is unchanged —
    bounded inverted index with the df<=50 skew cap."""
    d = load_table(spark, sf_dir, "documents")
    return D.winnow_spans(
        d, "text", "doc_id", k=3, w=4, df_cap=50, min_shared=2
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better", the exactsubstr rung): longest common
# CONTIGUOUS token run per near-dup candidate pair, located. The
# suffix-array formulation is replaced by the equivalent seed-and-
# extend relational plan: any common run of L >= 5 tokens surfaces
# L-4 consecutive matching 5-gram positions on one (pos_a - pos_b)
# diagonal, so max-run-per-diagonal recovers the exact run length and
# extent — no suffix array, no quadratic alignment, every stage a
# bounded equi-join/agg.
# ---------------------------------------------------------------------------

_SEED_N = 5  # seed gram width: detects (and measures exactly) runs >= 5


@query(
    "doc_exactsubstr_spans",
    "WITH "
    + _TOKENS_CTE
    + f""",
    g AS (SELECT doc_id, i - 1 AS pos,
                 tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                       || tk[i+3] || ' ' || tk[i+4] AS gram
          FROM (SELECT doc_id, tk,
                       unnest(range(1, len(tk) - {_SEED_N - 2})) AS i
                FROM t WHERE len(tk) >= {_SEED_N})),
    m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.pos AS pa, b.pos AS pb
          FROM g a JOIN g b ON a.gram = b.gram
                           AND a.doc_id < b.doc_id),
    r AS (SELECT id_a, id_b, pa, pb, pa - pb AS diag,
                 pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb
                                         ORDER BY pa) AS grp
          FROM m),
    runs AS (SELECT id_a, id_b,
                    count(*) + {_SEED_N - 1} AS run_len,
                    min(pa) AS start_a, min(pb) AS start_b
             FROM r GROUP BY id_a, id_b, diag, grp),
    best AS (SELECT *, row_number() OVER
                 (PARTITION BY id_a, id_b
                  ORDER BY run_len DESC, start_a ASC, start_b ASC) AS rn
             FROM runs)
    SELECT id_a, id_b,
           CAST(run_len AS BIGINT) AS lcs_tokens,
           CAST(start_a AS BIGINT) AS start_a,
           CAST(start_b AS BIGINT) AS start_b
    FROM best WHERE rn = 1
    """,
)
def doc_exactsubstr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup: for every pair of docs sharing a
    5-token run, the length and extent (start in both docs) of their
    LONGEST common contiguous token run — the signal Lee et al. cut
    on (their threshold is 50 BPE tokens; the seed width is the
    detection floor and this corpus's docs are ~30 tokens, so 5).

    Plan: 5-gram inverted-index self-join proposes (pos_a, pos_b)
    matches — ONLY docs sharing a full seed gram ever pair, the same
    bounded-candidates property as the MinHash/winnowing rungs (add
    the df-cap guard of operators/dedup.py for adversarial hot grams
    at 100 TB). Matches on the same diagonal (pos_a - pos_b) with
    consecutive pos_a form islands (pos_a - row_number), one
    groupBy recovers each run's exact length/extent, and a per-pair
    top-1 window picks the longest (ties: smallest start_a then
    start_b). Shuffles: gram join, (pair,diag) islands, pair top-1 —
    all keyed by pair, which the seed join already bounded."""
    # r16 (guide §2.5 input skew): the tokenize + 5-gram posexplode ran
    # as ONE task per join side (documents.parquet is a single split at
    # bench scale) — the measured two serial 0.55 s single-task stages.
    # spread_small_scan round-robins only when the scan is sub-split;
    # a real multi-file table skips it.
    from env_event_stream_spark.functions.text import _ngram_array
    from env_event_stream_spark.tables import spread_small_scan

    d = spread_small_scan(load_table(spark, sf_dir, "documents"))

    tk = tokens(F.col("text"))
    g = (
        d.select("doc_id", tk.alias("tk"))
        .where(F.size("tk") >= _SEED_N)
        .select(
            "doc_id",
            F.posexplode(_ngram_array(F.col("tk"), _SEED_N)).alias("pos", "gram"),
        )
    )
    a = g.select(
        F.col("doc_id").alias("id_a"), F.col("pos").alias("pa"), "gram"
    )
    b = g.select(
        F.col("doc_id").alias("id_b"), F.col("pos").alias("pb"), "gram"
    )
    m = a.join(b, "gram").where(F.col("id_a") < F.col("id_b"))
    wd = Window.partitionBy("id_a", "id_b", F.col("pa") - F.col("pb")).orderBy(
        "pa"
    )
    r = m.select(
        "id_a",
        "id_b",
        "pa",
        "pb",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(wd)).alias("grp"),
    )
    runs = r.groupBy("id_a", "id_b", "diag", "grp").agg(
        (F.count("*") + F.lit(_SEED_N - 1)).alias("run_len"),
        F.min("pa").alias("start_a"),
        F.min("pb").alias("start_b"),
    )
    wb = Window.partitionBy("id_a", "id_b").orderBy(
        F.col("run_len").desc(), F.col("start_a").asc(), F.col("start_b").asc()
    )
    return (
        runs.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            "id_a",
            "id_b",
            F.col("run_len").cast("bigint").alias("lcs_tokens"),
            F.col("start_a").cast("bigint").alias("start_a"),
            F.col("start_b").cast("bigint").alias("start_b"),
        )
    )


_LCS_SEED = 24  # char-seed width == the reporting floor (byte-exact)
_LCS_DF_CAP = 64  # hot-gram guard: drop seeds shared by > 64 docs


@_functools.lru_cache(maxsize=8)
def _lcs_oracle_solved(sf_dir: str) -> tuple:
    """Oracle-side LCS substrate, shared by the pairs and scrub
    oracles: pyarrow-read the docs at ``sf_dir``, regenerate the SAME
    candidate pairs (char-24-gram seeds, df-capped), then solve each
    pair with the INDEPENDENT binary-search/substring-set algorithm
    (operators/suffix.lcs_bisect) — no automaton code on this side.
    Returns ({doc_id: text}, ((id_a, id_b, ln, sa, sb), ...))."""
    import collections
    import itertools

    import pyarrow.parquet as pq

    from env_event_stream_spark.operators.suffix import lcs_bisect

    t = pq.read_table(
        sf_dir.rstrip("/") + "/documents.parquet",
        columns=["doc_id", "text"],
    )
    ids = t.column("doc_id").to_pylist()
    texts = dict(zip(ids, t.column("text").to_pylist()))
    idx: dict = collections.defaultdict(set)
    for d, x in texts.items():
        for i in range(len(x) - _LCS_SEED + 1):
            idx[x[i : i + _LCS_SEED]].add(d)
    pairs = set()
    for s in idx.values():
        if 1 < len(s) <= _LCS_DF_CAP:
            pairs.update(itertools.combinations(sorted(s), 2))
    rows = []
    for ia, ib in sorted(pairs):
        ln, sa, sb = lcs_bisect(texts[ia], texts[ib])
        rows.append((ia, ib, ln, sa, sb))
    return texts, tuple(rows)


def _lcs_pairs_oracle() -> str:
    """Lazy VALUES oracle over the shared _lcs_oracle_solved rows."""
    _, rows = _lcs_oracle_solved(_oracle_sf_dir())
    if not rows:
        return """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
           CAST(NULL AS BIGINT) AS lcs_len,
           CAST(NULL AS BIGINT) AS start_a,
           CAST(NULL AS BIGINT) AS start_b
    WHERE FALSE
    """
    vals = ", ".join(f"({a}, {b}, {ln}, {sa}, {sb})" for a, b, ln, sa, sb in rows)
    return f"""
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(lcs_len AS BIGINT) AS lcs_len,
           CAST(start_a AS BIGINT) AS start_a,
           CAST(start_b AS BIGINT) AS start_b
    FROM (VALUES {vals}) AS t(id_a, id_b, lcs_len, start_a, start_b)
    """


@query("doc_lcs_pairs", _lcs_pairs_oracle)
def doc_lcs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-exact longest common substring per candidate doc pair —
    the suffix-automaton rung doc_exactsubstr_spans' docstring defers
    to: no token floor, no seed-width granularity; the reported
    length is the true character-level LCS with deterministic
    positions (smallest start_b, then the substring's first
    occurrence in a — the operators/suffix contract).

    Candidate generation is EXACT by construction: any pair with a
    common substring of >= 24 chars shares a char-24-gram, so the
    seed join proposes every reportable pair (completeness holds
    modulo the df-cap, which drops grams shared by > 64 docs — 0
    such grams in this corpus, measured; at 100 TB the cap is the
    same deliberate recall-vs-skew trade as operators/dedup.py and
    is stated rather than silent). Per pair, the suffix automaton of
    one text is built once and the other streamed through it —
    O(|a|+|b|) per pair instead of the O(|a|*|b|) DP, the
    asymptotics that survive book-length documents.

    Plan: the corpus is exploded to grams ONCE (JVM-side sequence +
    transform + substring); a single groupBy(gram) collects the
    per-gram doc set, applies the df window (2..cap), and emits the
    C(df,2) pairs JVM-side via nested array transforms — no
    gram-keyed self-join, no second scan of the corpus (the first
    formulation scanned/exploded the corpus three times: cold-filter
    + both join sides; this one-scan re-plan plus the two gated
    repartitions below took the sf0.1 wall 13.2s -> 2.5s steady —
    the inflating explode and the Arrow stage were both running on
    ONE task at small SF). Pairs then bound every
    downstream stage (two doc_id joins pull the texts, then ONE
    Arrow mapInPandas row per pair). Oracle: independent
    binary-search + substring-set solver over the same pairs,
    VALUES-inlined; the two algorithms are fuzz-pinned in
    tests/test_suffix_lcs.py."""
    from typing import Iterator

    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Small-SF parquet is ONE file, so the gram explode (the 270x
    # row-inflating stage) would run on one task; spread it first.
    # Gated on actual input parallelism: at 100 TB the scan arrives
    # in thousands of splits and this shuffle must NOT happen.
    src = d.repartition(n_parts) if d.rdd.getNumPartitions() < n_parts else d
    g = src.where(F.length("text") >= _LCS_SEED).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {_LCS_SEED - 1}),"
                f" i -> substring(text, i, {_LCS_SEED}))"
            )
        ).alias("gram"),
    )
    byg = g.groupBy("gram").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    ).where((F.size("ids") >= 2) & (F.size("ids") <= _LCS_DF_CAP))
    pairs = (
        byg.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) ->"
                    " transform(slice(ids, i + 2, size(ids)),"
                    " b -> struct(a AS id_a, b AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    withtext = (
        pairs.join(
            d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta")),
            "id_a",
        )
        .join(
            d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb")),
            "id_b",
        )
        # AQE coalesces the byte-small pair table to ONE partition,
        # which would serialize the Arrow automaton stage; spread the
        # (pair-bounded, never corpus-sized) rows across the workers
        .repartition(n_parts, "id_a")
    )

    def solve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from env_event_stream_spark.operators.suffix import (
            automaton_lcs_walk,
            build_suffix_automaton,
        )

        for pdf in batches:
            out = []
            # the pair table is hash-partitioned on id_a, so every
            # pair sharing an ``a`` lands in this task: build a's
            # automaton ONCE per group and reuse it across its ~6
            # partners (guide §4.5 — construction was ~2/3 of the
            # stage's Python time; the walk + result stream are
            # bit-identical, this is pure memoization). Grouping
            # per batch keeps memory at one automaton at a time.
            for ia, g in pdf.groupby("id_a", sort=False):
                ta = g["ta"].iat[0]
                auto = build_suffix_automaton(ta)
                for ib, tb in zip(g["id_b"], g["tb"]):
                    ln, sa, sb = automaton_lcs_walk(auto, ta, tb)
                    out.append((int(ia), int(ib), ln, sa, sb))
            yield pd.DataFrame(
                out, columns=["id_a", "id_b", "lcs_len", "start_a", "start_b"]
            ).astype("int64")

    return withtext.mapInPandas(
        solve,
        "id_a bigint, id_b bigint, lcs_len bigint,"
        " start_a bigint, start_b bigint",
    )


def _lcs_scrub_oracle() -> str:
    """Lazy VALUES oracle: independent Python scrub over the shared
    bisect-solved pair spans — interval merge + cut + md5, no Spark
    and no automaton code on this side."""
    import hashlib

    texts, rows = _lcs_oracle_solved(_oracle_sf_dir())
    spans: dict = {}
    for ia, ib, ln, sa, sb in rows:
        spans.setdefault(ib, []).append((sb, sb + ln))
    out = []
    for d in sorted(spans):
        merged: list = []
        for s, e in sorted(spans[d]):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        txt = texts[d]
        kept = []
        pos = removed = 0
        for s, e in merged:
            kept.append(txt[pos:s])
            removed += e - s
            pos = e
        kept.append(txt[pos:])
        clean = "".join(kept)
        out.append(
            (
                d,
                len(txt),
                len(merged),
                removed,
                hashlib.md5(clean.encode("utf-8")).hexdigest(),
            )
        )
    if not out:
        return """
    SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_chars,
           CAST(NULL AS BIGINT) AS n_spans, CAST(NULL AS BIGINT) AS n_removed,
           CAST(NULL AS VARCHAR) AS clean_hash
    WHERE FALSE
    """
    vals = ", ".join(
        f"({d}, {nc}, {ns}, {nr}, '{h}')" for d, nc, ns, nr, h in out
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_removed AS BIGINT) AS n_removed,
           clean_hash
    FROM (VALUES {vals}) AS t(doc_id, n_chars, n_spans, n_removed,
                              clean_hash)
    """


@query("doc_lcs_scrub", _lcs_scrub_oracle)
def doc_lcs_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. train-train CUT, byte-exact tier: for every doc
    that repeats another doc's text verbatim (a doc_lcs_pairs span —
    true character-level LCS >= 24), cut the shared span from the
    LATER doc (id_b — the earlier copy survives, the keep-first
    policy of doc_dedup_survivors) and emit the scrubbed doc's shape:
    char count, merged-span count, chars removed, and md5 of the
    reassembled clean text (the hash pins exact reassembly order —
    the column a downstream writer materializes; the
    doc_scrub_contamination discipline, applied to train-train
    overlap instead of eval contamination).

    A doc repeating several earlier docs carries several spans, which
    may overlap — spans are MERGED declaratively first (sort by
    start, running max(end) over the preceding rows, island break
    where start > max-so-far; one window + one groupBy), then ONE
    pass of aggregate() folds the doc's disjoint intervals into the
    kept text JVM-side: no Python in the cut, no per-span explode of
    the text. Scale: every stage after doc_lcs_pairs is keyed by
    doc_id and bounded by the PAIR table, never the corpus — the
    clean 100 TB majority is never touched (the decontamination
    scale argument). Oracle: independent Python interval-merge + cut
    over the independently-solved bisect spans, VALUES-inlined."""
    d = load_table(spark, sf_dir, "documents")
    pairs = doc_lcs_pairs(spark, sf_dir)
    spans = pairs.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("lcs_len")).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    pmax = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = spans.withColumn(
        "new_isl",
        F.when(F.col("s") > F.coalesce(pmax, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "isl",
        F.sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = marked.groupBy("doc_id", "isl").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    ivs = merged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs"),
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("bigint").alias("n_removed"),
    )
    cut = ivs.join(d.select("doc_id", "text"), "doc_id")
    clean = F.expr(
        "aggregate(ivs,"
        " struct(CAST(0 AS INT) AS pos, '' AS acc),"
        " (st, iv) -> struct(CAST(iv.e AS INT) AS pos,"
        "   concat(st.acc, substring(text, st.pos + 1,"
        "                            CAST(iv.s AS INT) - st.pos)) AS acc),"
        " st -> concat(st.acc, substring(text, st.pos + 1,"
        "                                length(text) - st.pos)))"
    )
    return cut.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length("text").cast("bigint").alias("n_chars"),
        "n_spans",
        "n_removed",
        F.md5(clean).alias("clean_hash"),
    )


@query(
    "doc_scrub_contamination",
    "WITH "
    + _SHINGLES_CTE
    + r""",
    g AS (SELECT doc_id, i - 1 AS pos,
                 tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
                FROM t WHERE len(tk) >= 3)
          WHERE doc_id % 97 <> 0),
    ev AS (SELECT DISTINCT sh AS shingle FROM sh WHERE doc_id % 97 = 0),
    hitpos AS (SELECT g.doc_id, g.pos FROM g JOIN ev USING (shingle)),
    rm AS (SELECT DISTINCT doc_id, pos + off AS j
           FROM hitpos CROSS JOIN (SELECT unnest([0, 1, 2]) AS off)),
    tok AS (SELECT doc_id, i - 1 AS j, tk[i] AS tok
            FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
                  FROM t WHERE doc_id % 97 <> 0)
            WHERE doc_id IN (SELECT DISTINCT doc_id FROM hitpos)),
    kept AS (SELECT tok.doc_id, tok.j, tok.tok
             FROM tok LEFT JOIN rm
               ON rm.doc_id = tok.doc_id AND rm.j = tok.j
             WHERE rm.doc_id IS NULL)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) - count(kept.j) AS BIGINT) AS n_removed,
           md5(coalesce(string_agg(kept.tok, ' ' ORDER BY kept.j), ''))
             AS clean_hash
    FROM tok LEFT JOIN kept
      ON kept.doc_id = tok.doc_id AND kept.j = tok.j
    GROUP BY tok.doc_id
    """,
)
def doc_scrub_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL decontamination: instead of dropping a contaminated
    training doc (doc_decontaminate's verdict), cut ONLY the tokens
    covered by an eval-overlapping 3-gram (doc_contamination_spans'
    output, widened to the 3 token indexes each hit spans) and emit
    the scrubbed doc's shape: total/removed token counts + md5 of
    the re-joined clean text (the hash pins exact reassembly order —
    the column a downstream writer would actually materialize).

    Scale: eval shingles broadcast (KBs); hit positions explode ×3
    to removal indexes; ONLY contaminated docs (a semi-join-selected
    small fraction) are tokenized positionally and reassembled — the
    clean 100 TB majority never shuffles. Reassembly is one
    doc_id-keyed agg over kept tokens with an in-group order."""
    from env_event_stream_spark.functions.text import _ngram_array

    d = load_table(spark, sf_dir, "documents")

    is_eval = F.col("doc_id") % 97 == 0
    train = d.where(~is_eval).select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    grams = train.where(F.size("tk") >= 3).select(
        "doc_id",
        F.posexplode(_ngram_array(F.col("tk"), 3)).alias("pos", "shingle"),
    )
    ev = (
        d.where(is_eval)
        .select(
            F.explode(
                shingles_from_tokens(tokens(F.col("text")), 3)
            ).alias("shingle")
        )
        .distinct()
    )
    hitpos = grams.join(F.broadcast(ev), "shingle").select("doc_id", "pos")
    rm = (
        hitpos.select(
            "doc_id",
            F.explode(
                F.array(F.lit(0), F.lit(1), F.lit(2))
            ).alias("off"),
            "pos",
        )
        .select("doc_id", (F.col("pos") + F.col("off")).alias("j"))
        .distinct()
    )
    contaminated = hitpos.select("doc_id").distinct()
    tok = (
        train.join(F.broadcast(contaminated), "doc_id", "left_semi")
        .select("doc_id", F.posexplode("tk").alias("j", "tok"))
    )
    kept = tok.join(rm, ["doc_id", "j"], "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("j"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
            )
        ).alias("clean_hash"),
    )
    totals = tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(
                F.col("clean_hash"), F.md5(F.lit(""))
            ).alias("clean_hash"),
        )
    )


def _pretrain_token_yield_oracle() -> str:
    """Lazy oracle for doc_pretrain_token_yield — the same
    precomputed component/contamination pieces as the pipeline
    verdict, plus the scrub removal counts (plain SQL, no
    recursion), rolled up per source."""
    cm_sql, cont_sql = _pretrain_precompute()
    return (
        "WITH "
        + _TOKENS_CTE.lstrip()
        + f""",
    cm(node, component) AS ({cm_sql}),
    contaminated(doc_id) AS ({cont_sql}),
    g AS (SELECT doc_id, i - 1 AS pos,
                 tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
                FROM t WHERE len(tk) >= 3)
          WHERE doc_id % 97 <> 0),
    ev AS (SELECT DISTINCT
                  tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
                 FROM t WHERE len(tk) >= 3)
           WHERE doc_id % 97 = 0),
    rm AS (SELECT doc_id, count(*) AS n_removed
           FROM (SELECT DISTINCT g.doc_id, g.pos + off AS j
                 FROM g JOIN ev USING (shingle)
                 CROSS JOIN (SELECT unnest([0, 1, 2]) AS off))
           GROUP BY doc_id),
    q AS (SELECT doc_id,"""
        + _PIPELINE_TAIL.replace(
            # reuse the verdict tail up to v, then replace the final
            # per-doc SELECT with ", cls AS (...)" + the per-source
            # yield rollup (the comma continues the CTE list after v)
            """    SELECT doc_id, passes_quality, is_dup_loser, is_contaminated,
           CASE WHEN NOT passes_quality THEN 'quality'
                WHEN is_dup_loser THEN 'duplicate'
                WHEN is_contaminated THEN 'contaminated'
                ELSE 'kept' END AS reason,
           passes_quality AND NOT is_dup_loser AND NOT is_contaminated
             AS kept
    FROM v
    """,
            """    , cls AS (
      SELECT d.source,
             CASE WHEN NOT v.passes_quality OR v.is_dup_loser
                    THEN 'dropped'
                  WHEN v.is_contaminated THEN 'scrubbed'
                  ELSE 'clean' END AS status,
             CASE WHEN NOT v.passes_quality OR v.is_dup_loser THEN 0
                  WHEN v.is_contaminated
                    THEN len(t.tk) - coalesce(rm.n_removed, 0)
                  ELSE len(t.tk) END AS tokens_kept
      FROM v
      JOIN documents d ON d.doc_id = v.doc_id
      JOIN t ON t.doc_id = v.doc_id
      LEFT JOIN rm ON rm.doc_id = v.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN status = 'dropped' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN status = 'scrubbed' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_scrubbed,
           CAST(sum(CASE WHEN status = 'clean' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(sum(tokens_kept) AS BIGINT) AS tokens_kept,
           CAST(sum(CASE WHEN status = 'scrubbed' THEN tokens_kept
                         ELSE 0 END) AS BIGINT) AS tokens_rescued
    FROM cls GROUP BY source
    """,
        )
    )


@query("doc_pretrain_token_yield", _pretrain_token_yield_oracle)
def doc_pretrain_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's token yield under SCRUB-instead-of-DROP
    decontamination (the surgical-cut upgrade the winnowing/span
    family exists for): per source, how many docs are dropped
    (quality/dup — unrecoverable), scrubbed (contaminated: only the
    eval-overlapping 3-gram tokens are cut), or clean, and the final
    kept-token mass — with `tokens_rescued` making the policy
    argument concrete: the whole-doc-drop policy loses exactly that
    many training tokens.

    Pure composition: the verdict IS doc_pretrain_pipeline's
    DataFrame (same gates, same scale shapes, shared source-level via
    _pretrain_verdict over the SAME cached corpus shingle table — one
    tokenize+explode pass serves dedup, decontamination AND the scrub
    set here), joined with the scrub removal counts (broadcast eval
    shingles, hit docs only) and the per-source rollup. Gates
    evaluate on the ORIGINAL text; the scrub changes yield, not
    verdicts."""
    d, corpus_sh, train_sh, eval_sh = _pretrain_frames(spark, sf_dir)
    verdict = _pretrain_verdict(d, corpus_sh, train_sh, eval_sh)

    tk = tokens(F.col("text"))
    train = d.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", "source", tk.alias("tk")
    )
    grams = train.where(F.size("tk") >= 3).select(
        "doc_id",
        F.posexplode(_ngram_array_3(F.col("tk"))).alias("pos", "shingle"),
    )
    ev = eval_sh.select(F.col("sh").alias("shingle")).distinct()
    rm = (
        grams.join(F.broadcast(ev), "shingle")
        .select(
            "doc_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("off"),
            "pos",
        )
        .select("doc_id", (F.col("pos") + F.col("off")).alias("j"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_removed"))
    )
    cls = (
        verdict.join(train, "doc_id")
        .join(rm, "doc_id", "left")
        .select(
            "source",
            F.when(
                ~F.col("passes_quality") | F.col("is_dup_loser"), "dropped"
            )
            .when(F.col("is_contaminated"), "scrubbed")
            .otherwise("clean")
            .alias("status"),
            F.when(
                ~F.col("passes_quality") | F.col("is_dup_loser"), F.lit(0)
            )
            .when(
                F.col("is_contaminated"),
                F.size("tk") - F.coalesce(F.col("n_removed"), F.lit(0)),
            )
            .otherwise(F.size("tk"))
            .alias("tokens_kept"),
        )
    )
    return cls.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("status") == "dropped", 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("status") == "scrubbed", 1).otherwise(0))
        .cast("bigint")
        .alias("n_scrubbed"),
        F.sum(F.when(F.col("status") == "clean", 1).otherwise(0))
        .cast("bigint")
        .alias("n_clean"),
        F.sum("tokens_kept").cast("bigint").alias("tokens_kept"),
        F.sum(
            F.when(F.col("status") == "scrubbed", F.col("tokens_kept")).otherwise(0)
        )
        .cast("bigint")
        .alias("tokens_rescued"),
    )


def _ngram_array_3(tk):
    from env_event_stream_spark.functions.text import _ngram_array

    return _ngram_array(tk, 3)


# ---------------------------------------------------------------------------
# Group-aware train/val/test split with a dedup-leakage guard — the
# eval-hygiene twin of decontamination: a naive per-doc hash split
# scatters near-duplicate docs across splits (val/test answers leak
# into train); splitting by DUP-CLUSTER key puts whole components on
# one side by construction.
# ---------------------------------------------------------------------------


def _split_leakage_oracle() -> str:
    split = (
        "('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 8))::BIGINT % 10"
    )
    return (
        "WITH RECURSIVE "
        + _JACCARD_CTES.lstrip()
        + f""",
    p AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
    edges AS (SELECT id_a AS u, id_b AS v FROM p
              UNION SELECT id_b, id_a FROM p),
    comp(node, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, c.label FROM comp c JOIN edges e ON e.u = c.node
    ),
    cm AS (SELECT node, min(label) AS component FROM comp GROUP BY node),
    asg AS (
      SELECT d.doc_id,
             {split.format(k="d.doc_id")} AS ns,
             {split.format(k="coalesce(cm.component, d.doc_id)")} AS gs
      FROM documents d LEFT JOIN cm ON cm.node = d.doc_id),
    leaks AS (
      SELECT sum(CASE WHEN a.ns <> b.ns THEN 1 ELSE 0 END) AS nl,
             sum(CASE WHEN a.gs <> b.gs THEN 1 ELSE 0 END) AS gl
      FROM p JOIN asg a ON a.doc_id = p.id_a
             JOIN asg b ON b.doc_id = p.id_b)
    SELECT 'naive' AS policy,
           CAST(sum(CASE WHEN ns <= 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(sum(CASE WHEN ns = 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_val,
           CAST(sum(CASE WHEN ns = 9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test,
           CAST((SELECT coalesce(nl, 0) FROM leaks) AS BIGINT)
             AS leaked_pairs
    FROM asg
    UNION ALL
    SELECT 'grouped',
           CAST(sum(CASE WHEN gs <= 7 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN gs = 8 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN gs = 9 THEN 1 ELSE 0 END) AS BIGINT),
           CAST((SELECT coalesce(gl, 0) FROM leaks) AS BIGINT)
    FROM asg
    """
    )


@query("doc_split_leakage_guard", _split_leakage_oracle())
def doc_split_leakage_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split hygiene: an 80/10/10 md5 hash split
    assigned per-DOCUMENT vs per-DUP-CLUSTER (split key = the
    connected-component representative from the Jaccard >= 0.5
    near-dup graph, singletons their own key). Output per policy:
    split sizes + near-dup pairs whose endpoints landed in different
    splits. The naive policy leaks (val/test near-copies of train
    docs inflate eval); the grouped policy leaks ZERO by
    construction — the invariant pytest pins.

    100 TB shape: reuses the banded near-dup pair generation and the
    min-label component propagation (both bounded/bucketed — see
    doc_dup_clusters); split assignment is a row-local md5, and the
    leakage audit joins the (small) pair list against the assignment
    map twice on doc_id. Engine-reproducible: re-running on any
    partitioning yields the identical split."""
    d = load_table(spark, sf_dir, "documents")
    # the shingle explode + band join is the expensive leg; it feeds
    # BOTH the component propagation and the leakage audit, so
    # materialize the (match-set-sized) pair list once instead of
    # replaying the CTE per consumer. localCheckpoint blocks are
    # executor-local (NOT fault-tolerant): an executor loss after
    # this point fails the job instead of recomputing. Acceptable
    # here because the pair list is match-set-sized; on a long-lived
    # 1000-executor run prefer persist(StorageLevel.DISK_ONLY)
    # (lineage kept, recoverable) or checkpoint() to a reliable dir.
    pairs = (
        D.jaccard_pairs(d, "text", "doc_id", n=3, threshold=0.5)
        .select("id_a", "id_b")
        # LAZY (r16): connected_components' first-round probe
        # materializes it — an eager checkpoint added a synchronous
        # job ahead of the loop for nothing; lineage truncation and
        # compute-once (cache blocks) are identical.
        .localCheckpoint(eager=False)
    )
    from env_event_stream_spark.operators.graph import connected_components

    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component")
    )

    def split(col):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 10
        )

    asg = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            split(F.col("doc_id")).alias("ns"),
            split(F.coalesce(F.col("component"), F.col("doc_id"))).alias(
                "gs"
            ),
        )
        # referenced three times below (policy counts + both pair-
        # endpoint joins); the checkpoint stops the component
        # propagation upstream replaying per reference. LAZY (r16):
        # the three consumers live in the one final action — cache
        # block locks give compute-once without a separate job.
        .localCheckpoint(eager=False)
    )
    aa = asg.select(
        F.col("doc_id").alias("id_a"),
        F.col("ns").alias("ns_a"),
        F.col("gs").alias("gs_a"),
    )
    ab = asg.select(
        F.col("doc_id").alias("id_b"),
        F.col("ns").alias("ns_b"),
        F.col("gs").alias("gs_b"),
    )
    leaks = (
        pairs.join(aa, "id_a")
        .join(ab, "id_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ns_a") != F.col("ns_b"), 1).otherwise(0)),
                F.lit(0),
            ).alias("nl"),
            F.coalesce(
                F.sum(F.when(F.col("gs_a") != F.col("gs_b"), 1).otherwise(0)),
                F.lit(0),
            ).alias("gl"),
        )
    )

    # ONE aggregation produces both policies' counters; the two
    # output rows are an explode of that single row (a union of two
    # policy branches would embed the whole upstream DAG twice)
    def bucket_counts(c: str, prefix: str) -> list:
        return [
            F.sum(F.when(F.col(c) <= 7, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_train"),
            F.sum(F.when(F.col(c) == 8, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_val"),
            F.sum(F.when(F.col(c) == 9, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_test"),
        ]

    stats = asg.agg(*bucket_counts("ns", "n"), *bucket_counts("gs", "g"))
    row = stats.crossJoin(F.broadcast(leaks))

    def pol(tag: str, p: str, leak: str):
        return F.struct(
            F.lit(tag).alias("policy"),
            F.col(f"{p}_train").alias("n_train"),
            F.col(f"{p}_val").alias("n_val"),
            F.col(f"{p}_test").alias("n_test"),
            F.col(leak).cast("bigint").alias("leaked_pairs"),
        )

    return row.select(
        F.explode(
            F.array(pol("naive", "n", "nl"), pol("grouped", "g", "gl"))
        ).alias("o")
    ).select("o.*")


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (AllPairs/PPJoin family,
# Bayardo et al. WWW'07 / Xiao et al. ICDE'08) — the OTHER
# candidate-generation strategy next to MinHash banding and the raw
# inverted index: order each doc's shingles by global rarity and join
# only on the first |x| - ceil(t|x|) + 1 of them; any pair with
# J >= t provably shares a prefix shingle.
# ---------------------------------------------------------------------------


def _ppjoin_oracle() -> str:
    return (
        "WITH "
        + _JACCARD_CTES.lstrip()
        + """,
    dfc AS (SELECT sh, count(*) AS dfc FROM sh GROUP BY sh),
    ord AS (
      SELECT s.doc_id, s.sh, z.n_sh,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY d.dfc, s.sh) AS rn
      FROM sh s JOIN dfc d ON d.sh = s.sh
      JOIN sizes z ON z.doc_id = s.doc_id),
    pref AS (SELECT doc_id, sh FROM ord
             WHERE rn <= n_sh - ((n_sh + 1) // 2) + 1),
    cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
             FROM pref a JOIN pref b
               ON a.sh = b.sh AND a.doc_id < b.doc_id),
    inv AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM sh a JOIN sh b
              ON a.sh = b.sh AND a.doc_id < b.doc_id),
    tp AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
    mt AS (SELECT count(*) AS missed FROM tp
           LEFT JOIN cand ON cand.ida = tp.id_a AND cand.idb = tp.id_b
           WHERE cand.ida IS NULL)
    SELECT CAST((SELECT count(*) FROM tp) AS BIGINT) AS n_true_pairs,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand_prefix,
           CAST((SELECT count(*) FROM inv) AS BIGINT) AS n_cand_inverted,
           CAST(mt.missed AS BIGINT) AS n_missed,
           floor(CAST((SELECT count(*) FROM inv) AS DOUBLE)
                 / (SELECT count(*) FROM cand) * 10000 + 0.5) / 10000
             AS cand_reduction
    FROM mt
    """
    )


@query("doc_ppjoin_stats", _ppjoin_oracle())
def doc_ppjoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering candidate generation for the exact Jaccard >=
    0.5 self-join, audited against the raw inverted index: shingles
    are globally ordered by document frequency (rarest first) and
    only each doc's first |x| - ceil(0.5|x|) + 1 shingles join —
    completeness is provable (disjoint prefixes imply J < 0.5) and
    the n_missed column DEMONSTRATES it on real data, alongside the
    measured candidate-reduction factor vs joining on every shingle.

    100 TB shape: the prefix join inherits the inverted index's
    equi-join form but self-selects RARE shingles, so hot-shingle
    skew is structurally avoided (the frequent shingles that explode
    the raw join never enter a prefix) — the same effect the df_cap
    guard approximates, but lossless. The doc-frequency table and
    per-doc rank ride one shingle aggregation + one doc-partitioned
    window; the full inverted candidate count here is the eval-tier
    baseline being avoided.

    Honest measurement (r12): materializing the shared pref/cand/tp
    frames dropped the plan from ex=24 to ex=7 and HALVES the
    jaccard-leg compute (tp used to replay per consumer), but wall
    time at local[32]/sf0.1 is FLAT (interleaved A/B: old min 4.95 s,
    new min 5.51 s, alternating wins) — the idle cores were hiding
    the replay in parallel stages. The win is cluster throughput
    (total compute), not single-query latency at this scale.

    n_cand_inverted is always the exact distinct pair count of the
    raw inverted join (the DuckDB oracle replays it). That leg is the
    query's largest: at the 16x scale-probe rung it needs a larger
    driver heap (``SPARK_DRIVER_MEM=24g``; SCALING.md §8)."""
    d = load_table(spark, sf_dir, "documents")
    # sh feeds dfc, ord, and both sides of the inverted baseline —
    # cache it so the tokenize+explode runs once (PLANLINT caught the
    # expanded tree re-deriving it per reference)
    sh = D.shingle_table(d, "text", "doc_id", 3).cache()
    dfc = sh.groupBy("sh").agg(F.count("*").alias("dfc"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("dfc").asc(), F.col("sh").asc()
    )
    # r17 (§2.4): n_sh comes from a count over the SAME doc_id
    # window partition the rank already shuffles/sorts by — identical
    # value (sh is distinct per doc, so the partition row count IS
    # the doc's shingle count) without the sizes aggregate + join on
    # the prefix path's critical chain. Probe: median 3.95 vs 4.43 s,
    # min 3.55 vs 3.66 over 6 order-rotated reps; at scale it removes
    # a full |sh| x |docs| join. `sizes` keeps feeding the tp legs.
    wall = Window.partitionBy("doc_id")
    ordd = (
        sh.join(dfc, "sh")
        .withColumn("n_sh", F.count("*").over(wall))
        .withColumn("rn", F.row_number().over(w))
    )
    # the prefix table self-joins (pa x pb): cache it so the
    # dfc-join + window computes ONCE instead of replaying per join
    # side (cache, not localCheckpoint: pref is shingle-scale, and an
    # EAGER checkpoint would serialize a job that otherwise overlaps
    # with the rest of the single action — measured 1.25x slower at
    # sf0.1 when checkpointed)
    pref = (
        ordd.where(F.col("rn") <= F.expr("n_sh - ((n_sh + 1) DIV 2) + 1"))
        .select("doc_id", "sh")
        .cache()
    )
    pa = pref.select(F.col("doc_id").alias("ida"), "sh")
    pb = pref.select(F.col("doc_id").alias("idb"), "sh")
    cand = (
        pa.join(pb, "sh")
        .where(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .distinct()
        # candidate-set-sized; counted AND anti-joined. LAZY (r16):
        # eager checkpoints here serialized two synchronous jobs ahead
        # of the final action; lazy keeps the lineage truncation and
        # the one-compute guarantee (cache block locks) while letting
        # every leg schedule inside the single action (guide §2.6 —
        # fill the idle cores with the independent legs).
        .localCheckpoint(eager=False)
    )
    # ONE full inverted self-join (r16, guide §2.4 — remove duplicate
    # work): the true-pair leg (exact Jaccard >= 0.5) and the exact
    # inverted-baseline audit leg both used to run their own
    # shingle-table self-join — the two most expensive stages in the
    # query, computing the SAME pair set. `common` (every distinct
    # pair sharing >= 1 shingle, with its intersection count) now
    # feeds both: n_cand_inverted = count(common) — a pair shares a
    # shingle iff it has a common row — and tp = common joined to the
    # per-doc sizes with the identical round(|∩|/|∪|, 4) >= 0.5
    # verification jaccard_pairs applies.
    sa = sh.select(F.col("doc_id").alias("ida"), "sh")
    sb = sh.select(F.col("doc_id").alias("idb"), "sh")
    common = (
        sa.join(sb, "sh")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("n_common"))
        .localCheckpoint(eager=False)  # pair-set-sized; two consumers
    )
    tp = (
        common.join(
            sizes.select(F.col("doc_id").alias("ida"), F.col("n_sh").alias("n_a")),
            "ida",
        )
        .join(
            sizes.select(F.col("doc_id").alias("idb"), F.col("n_sh").alias("n_b")),
            "idb",
        )
        .where(
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            )
            >= 0.5
        )
        .select("ida", "idb")
    )
    # the true-pair count and the miss audit ride ONE left join (a
    # flag column instead of a separate left_anti + second tp scan)
    tpc = tp.join(
        cand.withColumn("_c", F.lit(1)), ["ida", "idb"], "left"
    ).agg(
        F.count("*").alias("n_true_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("_c").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("n_missed"),
    )
    n_cand = cand.agg(F.count("*").alias("n_cand_prefix"))
    n_inv = common.agg(F.count("*").alias("n_cand_inverted"))
    return (
        tpc.crossJoin(n_cand)
        .crossJoin(n_inv)
        .select(
            F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
            F.col("n_cand_prefix").cast("bigint").alias("n_cand_prefix"),
            F.col("n_cand_inverted")
            .cast("bigint")
            .alias("n_cand_inverted"),
            F.col("n_missed").cast("bigint").alias("n_missed"),
            (
                F.floor(
                    F.col("n_cand_inverted").cast("double")
                    / F.col("n_cand_prefix")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("cand_reduction"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-comparative keywords: log-odds ratio with an informed
# Dirichlet prior (Monroe, Colaresi & Quinn 2008) — "what words make
# this source DIFFERENT", with shrinkage so rare words don't top the
# list the way raw TF-IDF lets them.
# ---------------------------------------------------------------------------

_LOR_ALPHA0 = 1000.0  # total prior mass, split by global frequency


def _source_keywords_oracle() -> str:
    return (
        "WITH "
        + _TOKENS_CTE.lstrip()
        + f""",
    tok AS (
      SELECT d.source, u.w
      FROM t JOIN documents d ON d.doc_id = t.doc_id,
           unnest(t.tk) AS u(w)
      WHERE u.w <> ''),
    sw AS (SELECT source, w, count(*) AS y FROM tok GROUP BY 1, 2),
    st AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
    gw AS (SELECT w, count(*) AS yg FROM tok GROUP BY 1),
    gt AS (SELECT count(*) AS ng FROM tok),
    sc AS (
      SELECT sw.source, sw.w, sw.y,
             {_LOR_ALPHA0} * gw.yg / gt.ng AS aw,
             st.n AS n_s, gt.ng - st.n AS n_r,
             gw.yg - sw.y AS y_r
      FROM sw JOIN st USING (source) JOIN gw USING (w) CROSS JOIN gt),
    z AS (
      SELECT source, w, y,
             floor((
               (ln((y + aw) / (n_s + {_LOR_ALPHA0} - y - aw))
                - ln((y_r + aw) / (n_r + {_LOR_ALPHA0} - y_r - aw)))
               / sqrt(1.0 / (y + aw) + 1.0 / (y_r + aw))
             ) * 10000 + 0.5) / 10000 AS zscore
      FROM sc)
    SELECT source, w AS token, CAST(y AS BIGINT) AS n_in_source,
           zscore
    FROM (SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY zscore DESC, w ASC) AS rn
          FROM z) q
    WHERE rn <= 5
    """
    )


@query("doc_source_keywords", _source_keywords_oracle())
def doc_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive tokens per source by log-odds z-score with
    an informed Dirichlet prior (prior mass 1000 split by global
    frequency): the corpus-comparison operator — unlike TF-IDF's
    per-doc saliency, this contrasts each source against the REST of
    the corpus with shrinkage, so a word seen 3 times in one source
    can't outrank a systematically overused one.

    100 TB shape: one (source, token) count shuffle with map-side
    combine; source totals and the global token table broadcast back
    (vocabulary-sized, the same broadcast doc_unigram_logprob
    defends); ranking windows run per source over rounded scores so
    both engines rank identical values. ln() is platform libm on
    both engines — the 4dp rounding absorbs the sub-ulp divergence
    (same acceptance as the HLL linear-counting branch)."""
    from env_event_stream_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
    )
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("y"))
    st = tok.groupBy("source").agg(F.count("*").alias("n_s"))
    gw = tok.groupBy("w").agg(F.count("*").alias("yg"))
    gt = tok.agg(F.count("*").alias("ng"))
    a0 = F.lit(_LOR_ALPHA0)
    sc = (
        sw.join(F.broadcast(st), "source")
        .join(F.broadcast(gw), "w")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            "w",
            "y",
            (a0 * F.col("yg") / F.col("ng")).alias("aw"),
            F.col("n_s"),
            (F.col("ng") - F.col("n_s")).alias("n_r"),
            (F.col("yg") - F.col("y")).alias("y_r"),
        )
    )
    zscore = F.floor(
        (
            (
                F.log((F.col("y") + F.col("aw")) / (F.col("n_s") + a0 - F.col("y") - F.col("aw")))
                - F.log((F.col("y_r") + F.col("aw")) / (F.col("n_r") + a0 - F.col("y_r") - F.col("aw")))
            )
            / F.sqrt(1.0 / (F.col("y") + F.col("aw")) + 1.0 / (F.col("y_r") + F.col("aw")))
        )
        * 10000
        + F.lit(0.5)
    ) / 10000
    z = sc.select("source", "w", "y", zscore.alias("zscore"))
    w5 = Window.partitionBy("source").orderBy(
        F.col("zscore").desc(), F.col("w").asc()
    )
    return (
        z.withColumn("rn", F.row_number().over(w5))
        .where(F.col("rn") <= 5)
        .select(
            "source",
            F.col("w").alias("token"),
            F.col("y").cast("bigint").alias("n_in_source"),
            "zscore",
        )
    )


# ---------------------------------------------------------------------------
# LSH banding S-curve calibration: measured detection probability
# P(candidate | true Jaccard in bucket) against the theoretical
# 1 - (1 - s^r)^b — the chart that justifies the (bands, rows)
# choice (doc_minhash_accuracy calibrates the ESTIMATE; this
# calibrates DETECTION).
# ---------------------------------------------------------------------------


def _scurve_theory() -> list[float]:
    """Theoretical band-collision probability at each bucket
    midpoint, computed ONCE in Python and inlined as literals on
    both engines (pow() rounding differences never enter the
    value-hash)."""
    out = []
    for b in range(10):
        s = b / 10.0 + 0.05
        out.append(round(1.0 - (1.0 - s**_ROWS) ** _BANDS, 4))
    return out


def _scurve_oracle() -> str:
    theory = " ".join(
        f"WHEN {i} THEN {v!r}" for i, v in enumerate(_scurve_theory())
    )
    return (
        "WITH "
        + _JACCARD_CTES
        + ","
        + _band_cand_ctes()
        + f""",
u AS (
  SELECT j.id_a, j.id_b,
         least(CAST(floor(j.jaccard * 10) AS BIGINT), 9) AS bucket,
         CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS detected
  FROM jac j
  LEFT JOIN cand c ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard > 0)
SELECT bucket,
       floor(bucket * 1.0 / 10 * 10000 + 0.5) / 10000 AS j_lo,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(detected) AS BIGINT) AS n_detected,
       floor(sum(detected) * 1.0 / count(*) * 10000 + 0.5) / 10000
         AS obs_rate,
       CAST(CASE bucket {theory} END AS DOUBLE) AS theory_rate
FROM u GROUP BY bucket
"""
    )


@query("doc_minhash_scurve", _scurve_oracle())
def doc_minhash_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured: true-Jaccard pairs bucketed by
    similarity (0.1-wide bins over the shared-shingle universe), the
    fraction of each bucket the 4x4 banding actually surfaced as
    candidates, and the theoretical 1-(1-s^r)^b at the bin midpoint
    — the calibration chart that justifies (or indicts) the
    (bands, rows) choice before a 100 TB dedup run. Theory values
    are Python-computed literals on both sides, so pow() rounding
    never enters the hash.

    Scale shape: the universe is the candidate-BOUNDED inverted-
    index pair set (only pairs sharing a shingle — pairs at J=0 have
    theory ~0 and are the non-event), banding is the linear-ish
    band-key join, and the bucket rollup is 10 rows."""
    from env_event_stream_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    # ONE shingle explode feeds truth AND candidate generation
    sh = D.shingle_table(d, "text", "doc_id", 3).cache()
    truth = D.jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=1e-9, shingles=sh
    ).select("id_a", "id_b", "jaccard")
    cand = D.minhash_band_candidates(
        d, "text", "doc_id", n=3, bands=_BANDS, rows=_ROWS, shingles=sh
    ).withColumn("detected", F.lit(1))
    theory = _scurve_theory()
    tmap = F.element_at(
        F.array(*[F.lit(v) for v in theory]), F.col("bucket").cast("int") + 1
    )
    u = (
        truth.join(cand, ["id_a", "id_b"], "left")
        .select(
            F.least(
                F.floor(F.col("jaccard") * 10).cast("bigint"), F.lit(9)
            ).alias("bucket"),
            F.coalesce(F.col("detected"), F.lit(0)).alias("detected"),
        )
    )
    return u.groupBy("bucket").agg(
        (
            F.floor(F.col("bucket") * 1.0 / 10 * 10000 + F.lit(0.5)) / 10000
        ).alias("j_lo"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("detected").cast("bigint").alias("n_detected"),
        (
            F.floor(
                F.sum("detected") * 1.0 / F.count("*") * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("obs_rate"),
    ).select(
        "bucket", "j_lo", "n_pairs", "n_detected", "obs_rate",
        tmap.alias("theory_rate"),
    )


def _qc_calibration_oracle() -> str:
    return (
        "WITH "
        + _TOKENS_CTE.lstrip()
        + ","
        + _qc_score_ctes()
        + """,
    pred AS (SELECT doc_id, round(z, 6) AS logit FROM s),"""
        + _QC_LABEL_CTES
        + """,
    b AS (SELECT d.source, p.doc_id, p.logit, lab.y,
                 ntile(10) OVER (PARTITION BY d.source
                                 ORDER BY p.logit ASC, p.doc_id ASC)
                   AS decile
          FROM pred p JOIN lab USING (doc_id)
          JOIN documents d ON d.doc_id = p.doc_id)
    SELECT source, CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (y) AS BIGINT) AS n_pos,
           CAST((count(*) FILTER (y) * 20000 + count(*))
                // (2 * count(*)) AS DOUBLE) / 10000 AS pos_rate,
           CAST(round(sum(CAST(logit AS DECIMAL(18,6))), 4) AS DOUBLE)
             AS sum_logit,
           min(logit) AS min_logit,
           max(logit) AS max_logit
    FROM b GROUP BY 1, 2
    """
    )


@query("doc_classifier_calibration", _qc_calibration_oracle)
def doc_classifier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability table for the learned quality filter: per source,
    documents split into logit DECILES (ntile(10) ordered by logit
    with doc_id tie-break — equal-count bins, since the logit
    distribution is heavily concentrated and fixed-width bins
    degenerate to two rows), each decile reporting how often the
    Gopher label is actually positive. A well-calibrated filter
    shows pos_rate rising monotonically across deciles — the
    standard pre-rollout check that a score cutoff MEANS what its
    probability claims; binning the LOGIT keeps the table free of
    cross-engine exp().

    Determinism: pos_rate is the dq_profile integer floor-division
    (counts are ints — no float ratio near a rounding boundary);
    sum_logit rides a DECIMAL(18,6) sum of the 6dp logits (the
    perplexity-bucket precedent — order-independent where a double
    sum is not). Scale: the ntile sorts WITHIN source partitions
    (the doc_perplexity_buckets shape); for a trillion-doc source
    swap in broadcast cut-points from approx quantiles, documented
    there. Output is |sources| x 10 — corpus-invariant."""
    preds = _qc_score_frame(spark, sf_dir).select("doc_id", "logit")
    g = doc_gopher_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("y")
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = preds.join(g, "doc_id").join(src, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("logit").asc(), F.col("doc_id").asc()
    )
    j = j.withColumn("decile", F.ntile(10).over(w).cast("bigint"))
    npos = F.sum(F.col("y").cast("bigint"))
    n = F.count("*")
    return j.groupBy("source", "decile").agg(
        n.cast("bigint").alias("n_docs"),
        npos.cast("bigint").alias("n_pos"),
        (
            F.expr(
                "CAST((sum(CAST(y AS BIGINT)) * 20000 + count(*))"
                " div (2 * count(*)) AS DOUBLE)"
            )
            / 10000
        ).alias("pos_rate"),
        F.round(
            F.sum(F.col("logit").cast("decimal(18,6)")), 4
        )
        .cast("double")
        .alias("sum_logit"),
        F.min("logit").alias("min_logit"),
        F.max("logit").alias("max_logit"),
    )


# ---------------------------------------------------------------------------
# PSI source-drift monitor: which sources' length profiles diverge
# from the corpus mix — the standard population-stability-index
# check a data pipeline runs when a new crawl snapshot lands.
# ---------------------------------------------------------------------------

# fixed token-count bucket edges; bucket k = first edge > n_tokens
_PSI_EDGES = (10, 20, 50, 100, 200, 500, 1000)
_PSI_NB = len(_PSI_EDGES) + 1


def _psi_bucket_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN {col} < {e} THEN {k}"
        for k, e in enumerate(_PSI_EDGES)
    )
    return f"CASE {branches} ELSE {len(_PSI_EDGES)} END"


def _psi_oracle() -> str:
    b = _psi_bucket_sql("len(tk)")
    src_counts = ", ".join(
        f"count(*) FILTER (bk = {k}) AS c{k}" for k in range(_PSI_NB)
    )
    tot_counts = ", ".join(
        f"sum(c{k}) AS t{k}" for k in range(_PSI_NB)
    )
    terms = " + ".join(
        f"(((c{k} + 1.0) / (n + {_PSI_NB})) - ((t{k} + 1.0) / (tn + {_PSI_NB})))"
        f" * ln(((c{k} + 1.0) / (n + {_PSI_NB})) / ((t{k} + 1.0) / (tn + {_PSI_NB})))"
        for k in range(_PSI_NB)
    )
    return (
        "WITH "
        + _TOKENS_CTE.lstrip()
        + f""",
    bk AS (SELECT d.source, {b} AS bk
           FROM t JOIN documents d ON d.doc_id = t.doc_id),
    s AS (SELECT source, count(*) AS n, {src_counts}
          FROM bk GROUP BY source),
    c AS (SELECT sum(n) AS tn, {tot_counts} FROM s)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           floor(({terms}) * 10000 + 0.5) / 10000 AS psi,
           floor(({terms}) * 10000 + 0.5) / 10000 > 0.2 AS drifted
    FROM s CROSS JOIN c
    """
    )


@query("doc_source_psi", _psi_oracle())
def doc_source_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of each source's token-count
    distribution against the pooled corpus: 8 fixed length buckets,
    add-one smoothing, PSI = sum (p-q) ln(p/q); drifted at the
    classic 0.2 threshold. The monitoring query that catches a
    source whose new snapshot suddenly ships fragments or
    concatenated pages before it poisons the training mix.

    Determinism: bucket counts are integers, and the PSI is a
    FIXED-ORDER 8-term expression over them (the BM25 precedent) —
    both engines evaluate the identical IEEE sequence, so the 4dp
    floor is tie-free. 100 TB shape: one row-local bucket pass, one
    |sources|-row aggregate, corpus totals re-aggregated FROM the
    per-source rows (the corpus is scanned once) and crossJoined
    back as a 1-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    nt = F.size(tokens(F.col("text")))
    bucket = F.lit(len(_PSI_EDGES))
    for k, e in reversed(list(enumerate(_PSI_EDGES))):
        bucket = F.when(nt < e, k).otherwise(bucket)
    bk = d.select("source", bucket.alias("bk"))
    s = bk.groupBy("source").agg(
        F.count("*").alias("n"),
        *[
            F.sum((F.col("bk") == k).cast("bigint")).alias(f"c{k}")
            for k in range(_PSI_NB)
        ],
    )
    c = s.agg(
        F.sum("n").alias("tn"),
        *[F.sum(f"c{k}").alias(f"t{k}") for k in range(_PSI_NB)],
    )
    j = s.crossJoin(F.broadcast(c))
    psi = None
    for k in range(_PSI_NB):
        p = (F.col(f"c{k}") + 1.0) / (F.col("n") + _PSI_NB)
        q = (F.col(f"t{k}") + 1.0) / (F.col("tn") + _PSI_NB)
        term = (p - q) * F.log(p / q)
        psi = term if psi is None else psi + term
    psi4 = F.floor(psi * 10000 + F.lit(0.5)) / 10000
    return j.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        psi4.alias("psi"),
        (psi4 > 0.2).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Collocation mining (PMI lift) + TextRank keywords: the phrase/
# keyword extraction pair a pretraining corpus audit runs beside
# TF-IDF (per-doc saliency) and log-odds (per-source) — PMI finds the
# corpus's multiword units, TextRank its central vocabulary.
# ---------------------------------------------------------------------------


_PMI_MINSUP = 5
_PMI_TOPK = 50


_PMI_ORACLE_SQL = rf"""
    WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS tk
               FROM documents),
    pairs AS (SELECT unnest(list_transform(range(1, len(tk)),
                     i -> tk[i] || ' ' || tk[i+1])) AS bg
              FROM t),
    c2 AS (SELECT bg, count(*) AS c_pair FROM pairs GROUP BY bg),
    c1 AS (SELECT split_part(bg, ' ', 1) AS w, count(*) AS c_w1
           FROM pairs GROUP BY 1),
    cr AS (SELECT split_part(bg, ' ', 2) AS w, count(*) AS c_w2
           FROM pairs GROUP BY 1),
    n AS (SELECT count(*) AS n_pairs FROM pairs),
    scored AS (
      SELECT split_part(c2.bg, ' ', 1) AS w1,
             split_part(c2.bg, ' ', 2) AS w2,
             c2.c_pair, c1.c_w1, cr.c_w2,
             (n.n_pairs * c2.c_pair * 1000) // (c1.c_w1 * cr.c_w2)
               AS lift_milli
      FROM c2
      CROSS JOIN n
      JOIN c1 ON c1.w = split_part(c2.bg, ' ', 1)
      JOIN cr ON cr.w = split_part(c2.bg, ' ', 2)
      WHERE c2.c_pair >= {_PMI_MINSUP})
    SELECT w1, w2, CAST(c_pair AS BIGINT) AS c_pair,
           CAST(c_w1 AS BIGINT) AS c_w1, CAST(c_w2 AS BIGINT) AS c_w2,
           CAST(lift_milli AS BIGINT) AS lift_milli
    FROM scored
    ORDER BY lift_milli DESC, w1 ASC, w2 ASC
    LIMIT {_PMI_TOPK}
    """


@query("doc_pmi_collocations", _PMI_ORACLE_SQL)
def doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI lift over the bigram event
    space: lift = N·c(w1,w2) / (c(w1,·)·c(·,w2)), the monotone
    integer form of pointwise mutual information (PMI = log lift) —
    the corpus's multiword units ("new york"-shaped), which BPE merge
    learning consumes bottom-up and this query surfaces top-down.
    Support >= 5 is the standard PMI noise floor (hapax pairs get
    unbounded lift).

    INTEGER-EXACT ranking: lift_milli = (N·c_pair·1000) DIV
    (c_w1·c_w2) — all bigint, no log, nonneg floor division identical
    on both engines; ties break lexicographically so top-50 is a
    deterministic SET. Overflow is LOUD: assert_true(N < 9e7) since
    worst-case N·c_pair·1000 = N²·1000 must fit int64 — past that,
    rescale or move the score to log space. Plan: the
    doc_bigram_logprob pair pipeline (zip_with, no Python), two
    vocabulary-sized count joins (NOT broadcast-hinted: prefix counts
    are vocab-scale at corpus size, AQE broadcasts them while small),
    top-50 via TakeOrderedAndProject — no global sort. Reference
    analog: none; §2.11 text-analysis extension surface."""
    from env_event_stream_spark.operators.relational import top_k
    from env_event_stream_spark.tables import spread_small_scan

    # r16 (guide §1.1 first-principles + §2.5): the prefix counts, the
    # suffix counts and N are exact ROLLUPS of the bigram count table
    # (c_w1 = Σ c_pair over w1, etc. — integer sums, order-free), so
    # the corpus is tokenized+exploded ONCE instead of four times
    # (measured: four sequential single-task stages, ~2.6 s serial at
    # sf0.1); the scan additionally round-robin-spreads when sub-split.
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    tk = tokens(F.col("text"))
    nt = F.size(tk)
    pairs_arr = F.zip_with(
        F.slice(tk, 1, F.greatest(nt - 1, F.lit(0))),
        F.slice(tk, 2, F.greatest(nt - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    p = d.select(F.explode(pairs_arr).alias("bg")).select(
        "bg",
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    # lazy checkpoint: the three rollups + the scored join all sit in
    # the caller's one action; compute-once holds via the cache block
    # locks (the _copurchase_edges discipline)
    c2 = (
        p.groupBy("bg", "w1", "w2")
        .agg(F.count("*").alias("c_pair"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c_pair").alias("c_w1"))
    cr = c2.groupBy("w2").agg(F.sum("c_pair").alias("c_w2"))
    # coalesce: sum() is NULL on an empty bigram table (empty /
    # all-single-token corpus) and assert_true(NULL < 9e7) would
    # throw where the pre-r16 count(*) returned 0 — the same guard
    # the sibling rollups (unigram_logprob, dsir, perplexity) carry
    n = c2.agg(
        F.coalesce(F.sum("c_pair"), F.lit(0)).alias("n_pairs")
    ).where(
        F.assert_true(
            F.col("n_pairs") < F.lit(90_000_000),
            F.lit(
                "doc_pmi_collocations: n_pairs >= 9e7 — N^2*1000 "
                "would overflow int64; rescale lift or go log-space"
            ),
        ).isNull()
    )
    scored = (
        c2.where(F.col("c_pair") >= F.lit(_PMI_MINSUP))
        .join(c1, "w1")
        .join(cr, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c_pair").cast("bigint").alias("c_pair"),
            F.col("c_w1").cast("bigint").alias("c_w1"),
            F.col("c_w2").cast("bigint").alias("c_w2"),
            F.expr(
                "CAST((n_pairs * c_pair * 1000) div (c_w1 * c_w2) "
                "AS BIGINT)"
            ).alias("lift_milli"),
        )
    )
    return top_k(
        scored,
        [
            F.col("lift_milli").desc(),
            F.col("w1").asc(),
            F.col("w2").asc(),
        ],
        _PMI_TOPK,
    )


_TR_UNIT = 10**12
_TR_ITERS = 3
_TR_MINCOUNT = 5
_TR_TOPK = 30


def _textrank_oracle() -> str:
    ctes = [
        r"""t AS (SELECT string_split_regex(trim(text), '\s+') AS tk
               FROM documents)""",
        "tok AS (SELECT unnest(tk) AS w FROM t)",
        f"""vocab AS (SELECT w FROM tok GROUP BY w
                HAVING count(*) >= {_TR_MINCOUNT})""",
        """bgs AS (SELECT unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t)""",
        """pr0 AS (SELECT split_part(bg, ' ', 1) AS a,
                  split_part(bg, ' ', 2) AS b FROM bgs)""",
        """e0 AS (SELECT DISTINCT p.a, p.b FROM pr0 p
               JOIN vocab va ON va.w = p.a
               JOIN vocab vb ON vb.w = p.b
               WHERE p.a <> p.b)""",
        """edges AS (SELECT a AS src, b AS dst FROM e0
                 UNION
                 SELECT b, a FROM e0)""",
        """deg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg
               FROM edges GROUP BY src)""",
        "n AS (SELECT count(*) AS n FROM deg)",
        f"""r0 AS (SELECT src AS node, odeg,
                  CAST({_TR_UNIT} // n.n AS BIGINT) AS r
               FROM deg CROSS JOIN n)""",
    ]
    prev = "r0"
    for k in range(1, _TR_ITERS + 1):
        ctes.append(
            f"""r{k} AS (
          SELECT deg.src AS node, deg.odeg,
                 CAST((15 * {_TR_UNIT}) // (100 * n.n)
                      + (85 * coalesce(s.total, 0)) // 100 AS BIGINT) AS r
          FROM deg CROSS JOIN n
          LEFT JOIN (SELECT e.dst AS nd,
                            sum({prev}.r // {prev}.odeg) AS total
                     FROM edges e JOIN {prev} ON {prev}.node = e.src
                     GROUP BY e.dst) s
            ON s.nd = deg.src)"""
        )
        prev = f"r{k}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS word, odeg, r AS rank_units,
           CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT)
             AS pos
    FROM {prev}
    QUALIFY pos <= {_TR_TOPK}
    """
    )


@query("doc_textrank_keywords", _textrank_oracle())
def doc_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, the
    original unweighted form): PageRank over the word co-occurrence
    graph — nodes are corpus tokens with count >= 5, undirected edges
    link ADJACENT tokens (window 2) — top-30 central words. The
    corpus-level keyword rung beside TF-IDF (per-doc) and log-odds
    (per-source): centrality rewards words that co-occur with many
    DISTINCT other words, not merely frequent ones.

    Reuses operators/graph.py:pagerank_int wholesale — INTEGER-EXACT
    micro-unit ranks (rank DIV odeg contributions, (85·sum) DIV 100
    damping) make 3 iterations of an iterative algorithm survive the
    cross-engine value hash; the oracle replays every iteration as
    chained CTEs (the graph_pagerank_custsupp pattern over a
    different edge CTE stack). Plan: pair explode (zip_with, no
    Python), two vocab semi-joins bound the graph, per iteration one
    node-keyed join + grouped sum with localCheckpoint truncation;
    top-30 via TakeOrderedAndProject, never a global sort. Edge list
    is vocab-bounded (distinct adjacent pairs), far below corpus
    scale. Reference analog: none; §2.11 text-analysis extension
    surface."""
    from env_event_stream_spark.operators.graph import pagerank_int
    from env_event_stream_spark.operators.relational import top_k
    from env_event_stream_spark.tables import spread_small_scan

    # spread the sub-split scan (r16): the tokenize + pair/vocab
    # explodes are the map-side CPU and a single-file documents scan
    # pinned them to one core (0.9 s single-task stage measured);
    # no-op on a real multi-file table
    d = spread_small_scan(load_table(spark, sf_dir, "documents"))
    tk = tokens(F.col("text"))
    nt = F.size(tk)
    vocab = (
        d.select(F.explode(tk).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
        .where(F.col("cw") >= F.lit(_TR_MINCOUNT))
        .select("w")
    )
    pairs_arr = F.zip_with(
        F.slice(tk, 1, F.greatest(nt - 1, F.lit(0))),
        F.slice(tk, 2, F.greatest(nt - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    p = d.select(F.explode(pairs_arr).alias("bg")).select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("a"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("b"),
    )
    # r16 (guide §2.4): canonicalize (least, greatest) BEFORE the
    # distinct — the old directed-pair distinct kept (a,b) and (b,a)
    # as separate rows and the symmetrized 2|E| list had to be
    # distinct-ed again (a second full-edge exchange). Canonical
    # pairs distinct once at |E| rows; the symmetrized union is then
    # duplicate-free by construction (same edge set, same ranks).
    e0 = (
        p.join(vocab.withColumnRenamed("w", "a"), "a")
        .join(vocab.withColumnRenamed("w", "b"), "b")
        .where(F.col("a") != F.col("b"))
        .select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .distinct()
    )
    edges = e0.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = pagerank_int(edges, iterations=_TR_ITERS, unit=_TR_UNIT)
    order = [F.col("rank_units").desc(), F.col("node").asc()]
    top = top_k(pr, order, _TR_TOPK)
    w = Window.orderBy(*order)
    return (
        top.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select(
            F.col("node").alias("word"), F.col("deg").alias("odeg"), "rank_units", "pos"
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement — the sampler family member
# the stratified/hash-split/mixture/DSIR quartet lacks: big docs
# should be sampled proportionally to their token mass, not per-doc.
# Duffield-Lund-Thorup priority sampling, made integer-exact.
# ---------------------------------------------------------------------------


_PRIO_K = 100


_PRIORITY_SAMPLE_ORACLE = f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               + 1 AS u
      FROM documents),
    p AS (SELECT doc_id, source, n_chars, u,
                 (n_chars * 4294967296) // u AS priority
          FROM h)
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
           CAST(priority AS BIGINT) AS priority
    FROM p
    ORDER BY priority DESC, doc_id ASC
    LIMIT {_PRIO_K}
    """


@query("doc_priority_sample", _PRIORITY_SAMPLE_ORACLE)
def doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement, 100 docs with inclusion
    probability ~ n_chars (Duffield-Lund-Thorup priority sampling:
    priority = w/u for uniform u, keep the top-k) — the sampler the
    quartet lacks: stratified/hash-split/mixture pick DOCUMENTS
    uniformly within strata, DSIR reweights by domain; THIS samples
    proportional to SIZE, the estimator-friendly way to subsample a
    corpus by token mass.

    INTEGER-EXACT where float priorities would be a cross-engine
    selection hazard (the repo's LIMIT lesson — selection must ride a
    total order both engines agree on): u is the md5-derived 32-bit
    uniform + 1, priority = (w << 32) DIV u in bigint (w = n_chars,
    bounded; w·2^32 < 2^63 for w < 2^31-per-doc chars), ties break on
    doc_id. Deterministic, reproducible, and mergeable: top-k by
    priority is a distributive aggregate — per-partition heaps union
    into the global sample (TakeOrderedAndProject), which is exactly
    why priority sampling works on a 100 TB corpus with no global
    sort. The 'w bounded' claim is CHECKED, not assumed: assert_true
    pins n_chars < 2^31 per doc (w·2^32 wraps silently in non-ANSI
    Spark past that, while DuckDB errors — the standard loud-overflow
    guard on every sibling query). Reference analog: none; §2.11
    sampling extension surface."""
    from env_event_stream_spark.operators.relational import top_k

    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        + 1
    )
    p = d.where(
        F.assert_true(
            F.col("n_chars").cast("bigint") < F.lit(2**31),
            F.lit(
                "doc_priority_sample: n_chars >= 2^31 — "
                "w * 2^32 would overflow int64"
            ),
        ).isNull()
    ).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("weight"),
        u.alias("u"),
    ).select(
        "doc_id",
        "source",
        "weight",
        F.expr("CAST((weight * 4294967296) div u AS BIGINT)").alias(
            "priority"
        ),
    )
    return top_k(
        p,
        [F.col("priority").desc(), F.col("doc_id").asc()],
        _PRIO_K,
    )


_PRIO_EVAL_ORACLE = f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               + 1 AS u
      FROM documents),
    p AS (SELECT doc_id, n_chars,
                 (n_chars * 4294967296) // u AS priority
          FROM h),
    r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id)
                    AS rn
          FROM p),
    tau AS (SELECT coalesce(max(CASE WHEN rn = {_PRIO_K + 1}
                                     THEN priority END), 0) AS tau
            FROM r),
    s AS (SELECT count(*) AS n_sample,
                 sum(greatest(n_chars, tau)) AS est
          FROM r CROSS JOIN tau WHERE rn <= {_PRIO_K}),
    tot AS (SELECT sum(n_chars) AS true_chars FROM documents)
    SELECT CAST(s.n_sample AS BIGINT) AS n_sample,
           CAST(s.est AS BIGINT) AS est_total_chars,
           CAST(tot.true_chars AS BIGINT) AS true_total_chars,
           CASE WHEN s.est >= tot.true_chars
                THEN CAST(((s.est - tot.true_chars)
                           * 1000) // tot.true_chars AS BIGINT)
                ELSE -CAST(((tot.true_chars - s.est)
                            * 1000) // tot.true_chars AS BIGINT)
           END AS err_milli
    FROM s CROSS JOIN tot
    """


@query("doc_priority_sample_eval", _PRIO_EVAL_ORACLE)
def doc_priority_sample_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimator that justifies priority sampling (Duffield-
    Lund-Thorup Theorem 1: E[Σ max(w_i, τ)] over the top-k sample =
    the TRUE total, τ = the (k+1)-th priority): estimate the corpus's
    total character mass from the 100-doc weighted sample and report
    the signed error vs the true scan — the honest-eval discipline
    applied to sampling (every subsample-then-estimate pipeline at
    100 TB needs this number before trusting sample-derived stats).

    Integer end to end: priorities and the threshold live in w<<32
    units, the estimator sums max(w<<32, τ) in bigint and floors once
    at the end; the signed relative error extracts sign before the
    nonneg floor division. Corpus <= k degrades gracefully (τ = 0 →
    the estimate IS the exact sum). Plan: the same distributive top-k
    as doc_priority_sample (k+1 rows), one scalar total — the eval
    costs one corpus scan. Reference analog: none; §2.11 sampling
    extension surface."""
    from env_event_stream_spark.operators.relational import top_k

    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        + 1
    )
    p = d.where(
        F.assert_true(
            F.col("n_chars").cast("bigint") < F.lit(2**31),
            F.lit(
                "doc_priority_sample_eval: n_chars >= 2^31 — "
                "w * 2^32 would overflow int64"
            ),
        ).isNull()
    ).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w"), u.alias("u")
    ).select(
        "doc_id",
        "w",
        F.expr("CAST((w * 4294967296) div u AS BIGINT)").alias(
            "priority"
        ),
    )
    r = top_k(
        p,
        [F.col("priority").desc(), F.col("doc_id").asc()],
        _PRIO_K + 1,
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
    r = r.withColumn("rn", F.row_number().over(w))
    tau = r.agg(
        F.coalesce(
            F.max(
                F.when(F.col("rn") == _PRIO_K + 1, F.col("priority"))
            ),
            F.lit(0),
        ).alias("tau")
    )
    s = (
        r.where(F.col("rn") <= _PRIO_K)
        .crossJoin(F.broadcast(tau))
        .agg(
            F.count("*").alias("n_sample"),
            F.sum(
                F.greatest(F.col("w"), F.col("tau"))
            ).alias("est"),
        )
    )
    tot = d.agg(F.sum("n_chars").cast("bigint").alias("true_chars"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            F.col("n_sample").cast("bigint").alias("n_sample"),
            F.col("est").cast("bigint").alias("est_total_chars"),
            F.col("true_chars").alias("true_total_chars"),
            F.expr(
                "CASE WHEN est >= true_chars "
                "THEN CAST(((est - true_chars) "
                "* 1000) div true_chars AS BIGINT) "
                "ELSE -CAST(((true_chars - est) "
                "* 1000) div true_chars AS BIGINT) END"
            ).alias("err_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-rater agreement: the ensemble-curation diagnostic. A corpus
# pipeline that filters on several cheap raters (rules, learned
# classifier, composite score — the FineWeb-style ensemble) needs to
# know WHERE the raters disagree before composing them: high kappa =
# redundant raters (drop one), low kappa = they see different things
# (compose or investigate).
# ---------------------------------------------------------------------------


def _rater_agreement_oracle() -> str:
    """Lazy oracle: the three raters' keep decisions via the SHARED
    CTE fragments (_TOKENS_CTE for tokenization, _QC_LABEL_CTES for
    the Gopher conjunction — the same text doc_quality_classifier's
    oracle trains on, so a future rule tweak syncs automatically —
    and the weight-literal classifier CTEs), one 2x2-cell
    aggregation, three pair rows."""
    qc = _qc_score_ctes()
    pair = """
    SELECT '{a}' AS rater_a, '{b}' AS rater_b,
           CAST(n AS BIGINT) AS n,
           CAST({ag} AS BIGINT) AS n_agree,
           CAST({pa} AS BIGINT) AS n_keep_a,
           CAST({pb} AS BIGINT) AS n_keep_b,
           CAST({ag} * 1000000 // n AS BIGINT) AS agree_ppm,
           CASE WHEN n * n = {pa} * {pb} + (n - {pa}) * (n - {pb})
                THEN NULL
                ELSE floor((n * {ag}
                            - ({pa} * {pb} + (n - {pa}) * (n - {pb})))
                           * 1.0
                           / (n * n
                              - ({pa} * {pb} + (n - {pa}) * (n - {pb})))
                           * 1000000 + 0.5) / 1000000
           END AS kappa
    FROM cells"""
    return (
        "WITH "
        + _TOKENS_CTE
        + ","
        + qc
        + ","
        + _QC_LABEL_CTES
        + r""",
    cl AS (SELECT doc_id, z >= 0 AS keep FROM s),
    qm AS (SELECT doc_id, len(tk) AS n,
                  len(list_filter(tk,
                      x -> list_contains(['the','a','of','and'], x)))
                    AS sw,
                  length(text) AS c,
                  length(regexp_replace(text, '[^\w\s]', '', 'g')) AS np,
                  len(list_distinct(tk)) AS u
           FROM t),
    q AS (SELECT doc_id,
                 ((least(n, 200) * n * c + 100 * (c * sw + n * np + c * u))
                    * 20000 + 500 * n * c)
                   // (2 * 500 * n * c) >= 5500 AS keep
          FROM qm),
    j AS (SELECT lab.y AS a, cl.keep AS b, q.keep AS c
          FROM lab JOIN cl USING (doc_id) JOIN q USING (doc_id)),
    cells AS (SELECT count(*) AS n,
                     sum(CASE WHEN a THEN 1 ELSE 0 END) AS a1,
                     sum(CASE WHEN b THEN 1 ELSE 0 END) AS b1,
                     sum(CASE WHEN c THEN 1 ELSE 0 END) AS c1,
                     sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS ab,
                     sum(CASE WHEN a = c THEN 1 ELSE 0 END) AS ac,
                     sum(CASE WHEN b = c THEN 1 ELSE 0 END) AS bc
              FROM j)
    """
        + pair.format(a="rules", b="classifier", ag="ab", pa="a1", pb="b1")
        + " UNION ALL "
        + pair.format(a="rules", b="score", ag="ac", pa="a1", pb="c1")
        + " UNION ALL "
        + pair.format(a="classifier", b="score", ag="bc", pa="b1", pb="c1")
    )


@query("doc_quality_rater_agreement", _rater_agreement_oracle)
def doc_quality_rater_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise agreement + Cohen's kappa between the three cheap
    quality raters (Gopher rules `passes`, the learned classifier's
    logit sign, composite-score tier != 'low') — the
    ensemble-curation diagnostic: raw agreement is inflated when both
    raters mostly say keep, kappa corrects for that chance agreement,
    so kappa ~ 0 on a high-agreement pair means the raters are
    USELESS together while kappa ~ 1 means one is redundant. n_keep
    columns give each rater's base rate.

    Determinism: the 2x2 cells are exact integer counts off one
    three-way doc_id join of the raters' keep bits (each rater's bit
    is already cross-engine pinned by its own oracled query); kappa
    is ONE fixed-order double expression over those integers with the
    repo's tie-free floor(x*1e6 + 0.5) rounding (the
    evt_ab_test_conversion chi-square precedent), NULL when chance
    agreement is total (pe = 1, kappa undefined). assert_true bounds
    n so the bigint cell products stay loud. Plan/scale: three scans
    (each rater recomputes its features — the cost of running the
    ensemble), keep-bit rows joined on doc_id, one
    map-side-combinable global agg; the 3 pair rows explode from the
    single agg row — no second pass. Reference analog: none; §2.11
    curation extension."""
    rules = doc_gopher_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("a")
    )
    clf = _qc_score_frame(spark, sf_dir).select(
        "doc_id", F.col("pred_keep").alias("b")
    )
    score = doc_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("tier") != "low").alias("c")
    )
    j = rules.join(clf, "doc_id").join(score, "doc_id")
    one = F.lit(1)
    zero = F.lit(0)
    cells = j.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("a"), one).otherwise(zero)).alias("a1"),
        F.sum(F.when(F.col("b"), one).otherwise(zero)).alias("b1"),
        F.sum(F.when(F.col("c"), one).otherwise(zero)).alias("c1"),
        F.sum(F.when(F.col("a") == F.col("b"), one).otherwise(zero))
        .alias("ab"),
        F.sum(F.when(F.col("a") == F.col("c"), one).otherwise(zero))
        .alias("ac"),
        F.sum(F.when(F.col("b") == F.col("c"), one).otherwise(zero))
        .alias("bc"),
    ).where(
        F.assert_true(
            F.col("n") < F.lit(3_000_000_000),
            F.lit(
                "doc_quality_rater_agreement: n >= 3e9 — n*n would "
                "overflow int64 in the kappa cells"
            ),
        ).isNull()
    )
    pairs = cells.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("rules").alias("rater_a"),
                    F.lit("classifier").alias("rater_b"),
                    F.col("n").alias("n"),
                    F.col("ab").alias("ag"),
                    F.col("a1").alias("pa"),
                    F.col("b1").alias("pb"),
                ),
                F.struct(
                    F.lit("rules").alias("rater_a"),
                    F.lit("score").alias("rater_b"),
                    F.col("n").alias("n"),
                    F.col("ac").alias("ag"),
                    F.col("a1").alias("pa"),
                    F.col("c1").alias("pb"),
                ),
                F.struct(
                    F.lit("classifier").alias("rater_a"),
                    F.lit("score").alias("rater_b"),
                    F.col("n").alias("n"),
                    F.col("bc").alias("ag"),
                    F.col("b1").alias("pa"),
                    F.col("c1").alias("pb"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    pe_num = F.expr("pa * pb + (n - pa) * (n - pb)")
    return pairs.select(
        "rater_a",
        "rater_b",
        F.col("n").cast("bigint").alias("n"),
        F.col("ag").cast("bigint").alias("n_agree"),
        F.col("pa").cast("bigint").alias("n_keep_a"),
        F.col("pb").cast("bigint").alias("n_keep_b"),
        F.expr("CAST(ag * 1000000 div n AS BIGINT)").alias("agree_ppm"),
        F.when(F.expr("n * n") == pe_num, F.lit(None).cast("double"))
        .otherwise(
            F.floor(
                (F.expr("n * ag") - pe_num)
                * 1.0
                / (F.expr("n * n") - pe_num)
                * 1_000_000
                + 0.5
            )
            / 1_000_000
        )
        .alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Quality-weighted domain mixture — the data-recipe composition of
# doc_mixture_sample (deterministic per-source hash sampling) and the
# three-rater quality ensemble (doc_quality_rater_agreement's raters):
# a doc's sampling weight is its domain target weight scaled by the
# fraction of raters voting keep, so unanimous-keep docs sample at the
# full domain rate, split-decision docs at a discount, and
# unanimous-reject docs are dropped outright.
# ---------------------------------------------------------------------------


def _quality_mixture_oracle() -> str:
    """Lazy oracle: the three raters' keep bits via the SHARED CTE
    fragments (same as _rater_agreement_oracle), votes = their sum,
    then doc_mixture_sample's md5-bucket test against the
    vote-scaled weight."""
    qc = _qc_score_ctes()
    return (
        "WITH "
        + _TOKENS_CTE
        + ","
        + qc
        + ","
        + _QC_LABEL_CTES
        + r""",
    cl AS (SELECT doc_id, z >= 0 AS keep FROM s),
    qm AS (SELECT doc_id, len(tk) AS n,
                  len(list_filter(tk,
                      x -> list_contains(['the','a','of','and'], x)))
                    AS sw,
                  length(text) AS c,
                  length(regexp_replace(text, '[^\w\s]', '', 'g')) AS np,
                  len(list_distinct(tk)) AS u
           FROM t),
    q AS (SELECT doc_id,
                 ((least(n, 200) * n * c + 100 * (c * sw + n * np + c * u))
                    * 20000 + 500 * n * c)
                   // (2 * 500 * n * c) >= 5500 AS keep
          FROM qm),
    v AS (SELECT doc_id,
                 (CASE WHEN lab.y THEN 1 ELSE 0 END
                  + CASE WHEN cl.keep THEN 1 ELSE 0 END
                  + CASE WHEN q.keep THEN 1 ELSE 0 END) AS votes
          FROM lab JOIN cl USING (doc_id) JOIN q USING (doc_id)),
    w AS (SELECT d.source, v.votes,
                 ((regexp_extract(d.source, '(\d+)', 1)::INT % 4 + 1) * 25
                  * v.votes) // 3 AS eff,
                 ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS bucket
          FROM documents d JOIN v ON v.doc_id = d.doc_id)
    SELECT source, CAST(votes AS BIGINT) AS votes,
           round(max(eff) / 100.0, 4) AS eff_weight,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN bucket < eff THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(sum(CASE WHEN bucket < eff THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS kept_rate
    FROM w GROUP BY source, votes
    """
    )


@query("doc_quality_mixture", _quality_mixture_oracle)
def doc_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted domain mixture (the data-recipe composition
    VERDICT r10 queued): each doc's keep probability is its source's
    mixture target (doc_mixture_sample's weight) scaled by
    votes/3, where votes = how many of the three quality raters
    (Gopher rules, learned classifier, composite score tier) say
    keep. The same md5(doc_id) bucket test as doc_mixture_sample
    decides membership — deterministic, row-local, reproducible on
    any partitioning — so the recipe is an auditable pure function of
    (doc_id, source, text). Output per (source, votes) stratum:
    effective weight, stratum size, kept docs, achieved rate — the
    table a recipe review reads to see how much of each domain the
    quality discount actually removes (votes=3 rows sample at the
    full domain rate; votes=0 rows report kept_rate 0.0).

    Plan/scale: the three raters are row-local projections off three
    scans of the corpus (the cost of running the ensemble, identical
    to doc_quality_rater_agreement), joined on doc_id; the vote and
    bucket tests are pure expressions; ONE map-side-combinable
    groupBy(source, votes) ends the plan — output is
    |sources| x 4 rows regardless of corpus size. Integer floor
    division (w100 * votes div 3) keeps the effective threshold
    engine-exact. Reference analog: none; §2.11 curation extension."""
    rules = doc_gopher_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("a")
    )
    clf = _qc_score_frame(spark, sf_dir).select(
        "doc_id", F.col("pred_keep").alias("b")
    )
    score = doc_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("tier") != "low").alias("c")
    )
    one, zero = F.lit(1), F.lit(0)
    votes = (
        F.when(F.col("a"), one).otherwise(zero)
        + F.when(F.col("b"), one).otherwise(zero)
        + F.when(F.col("c"), one).otherwise(zero)
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w100 = (
        F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int") % 4 + 1
    ) * 25
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    rows = (
        d.join(rules, "doc_id")
        .join(clf, "doc_id")
        .join(score, "doc_id")
        .select(
            "source",
            votes.cast("bigint").alias("votes"),
            w100.alias("w100"),
            bucket.alias("bucket"),
        )
        .withColumn("eff", F.expr("(w100 * votes) div 3").cast("bigint"))
    )
    kept = F.sum(F.when(F.col("bucket") < F.col("eff"), 1).otherwise(0))
    return rows.groupBy("source", "votes").agg(
        F.round(F.max("eff") / 100.0, 4).alias("eff_weight"),
        F.count("*").cast("bigint").alias("n_docs"),
        kept.cast("bigint").alias("n_kept"),
        F.round(kept * 1.0 / F.count("*"), 4).alias("kept_rate"),
    )
