"""Property-based tests (hypothesis): randomized inputs against
independent reference implementations (pandas / pure python).

Example counts are kept small — each example is a Spark round-trip —
but the strategies cover the edge geometry that fixed fixtures miss:
empty sides, all-ties timestamps, single-key, duplicate rows."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from env_event_stream_spark.functions.text import shingles_from_tokens, tokens
from env_event_stream_spark.operators import event_queries as EQ
from env_event_stream_spark.operators.relational import asof_join

_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ts(h):
    return dt.datetime(2024, 1, 1) + dt.timedelta(hours=int(h))


events_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),            # key
        st.integers(0, 20),           # hour
        st.sampled_from(["a", "b"]),  # type
        st.integers(0, 100),          # value
    ),
    min_size=0,
    max_size=25,
)


@given(left=events_strategy, right=events_strategy)
@_SET
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    lrows = [(k, _ts(h), i) for i, (k, h, _t, _v) in enumerate(left)]
    rrows = [(k, _ts(h), float(v)) for (k, h, _t, v) in right]
    ldf = spark.createDataFrame(
        lrows, "k bigint, ts timestamp, lid bigint"
    ) if lrows else spark.createDataFrame([], "k bigint, ts timestamp, lid bigint")
    rdf = spark.createDataFrame(
        rrows, "k bigint, rts timestamp, rv double"
    ) if rrows else spark.createDataFrame([], "k bigint, rts timestamp, rv double")

    got = {
        r.lid: r.rv
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="ts", right_ts="rts",
            right_vals=["rts", "rv"],
        ).collect()
    }

    # pandas reference: merge_asof per key (backward, inclusive).
    # Tie-break: our implementation takes the LAST right row carried
    # forward at equal rts — emulate by sorting and keeping the last
    # value per (k, rts).
    lp = pd.DataFrame([(k, t, i) for (k, t, i) in lrows], columns=["k", "ts", "lid"])
    rp = pd.DataFrame(rrows, columns=["k", "rts", "rv"])
    if len(lp) == 0:
        assert got == {}
        return
    if len(rp) == 0:
        assert all(v is None for v in got.values())
        return
    rp = rp.sort_values(["k", "rts"]).groupby(["k", "rts"], as_index=False).last()
    merged = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rp.sort_values("rts"),
        left_on="ts",
        right_on="rts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    )
    for _, row in merged.iterrows():
        exp = None if pd.isna(row.rv) else row.rv
        assert got[row.lid] == exp, (row.lid, got[row.lid], exp)


@given(left=events_strategy, right=events_strategy)
@_SET
def test_asof_join_forward_matches_pandas_merge_asof(spark, left, right):
    """direction='forward': earliest right row with rts >= ts per key.
    Right side deduped to one row per (k, rts) up front so the
    equal-ts pick is well-defined on both engines."""
    lrows = [(k, _ts(h), i) for i, (k, h, _t, _v) in enumerate(left)]
    rdedup = {(k, _ts(h)): float(v) for (k, h, _t, v) in right}
    rrows = [(k, t, v) for (k, t), v in sorted(rdedup.items())]
    ldf = spark.createDataFrame(
        lrows, "k bigint, ts timestamp, lid bigint"
    ) if lrows else spark.createDataFrame([], "k bigint, ts timestamp, lid bigint")
    rdf = spark.createDataFrame(
        rrows, "k bigint, rts timestamp, rv double"
    ) if rrows else spark.createDataFrame([], "k bigint, rts timestamp, rv double")

    got = {
        r.lid: r.rv
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="ts", right_ts="rts",
            right_vals=["rts", "rv"], direction="forward",
        ).collect()
    }

    lp = pd.DataFrame(lrows, columns=["k", "ts", "lid"])
    rp = pd.DataFrame(rrows, columns=["k", "rts", "rv"])
    if len(lp) == 0:
        assert got == {}
        return
    if len(rp) == 0:
        assert all(v is None for v in got.values())
        return
    merged = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rp.sort_values("rts"),
        left_on="ts",
        right_on="rts",
        by="k",
        direction="forward",
        allow_exact_matches=True,
    )
    for _, row in merged.iterrows():
        exp = None if pd.isna(row.rv) else row.rv
        assert got[row.lid] == exp, (row.lid, got[row.lid], exp)


@given(rows=events_strategy, lo=st.integers(0, 20), span=st.integers(0, 10))
@_SET
def test_get_events_filter_semantics(spark, rows, lo, span):
    """Inclusive ts bounds + type-IN + asc order + deterministic
    tie-break — vs a five-line python reference."""
    data = [(i, _ts(h), t, float(v)) for i, (_k, h, t, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "event_id bigint, ts timestamp, event_type string, value double"
    ) if data else spark.createDataFrame(
        [], "event_id bigint, ts timestamp, event_type string, value double"
    )
    f, t_hi = _ts(lo), _ts(lo + span)
    out = EQ.get_events(
        df, from_ts=f, to_ts=t_hi, event_types=["a"], limit=5,
        tiebreak_col="event_id",
    ).collect()
    expected = sorted(
        [r for r in data if f <= r[1] <= t_hi and r[2] == "a"],
        key=lambda r: (r[1], r[0]),
    )[:5]
    assert [(r.event_id, r.ts) for r in out] == [(r[0], r[1]) for r in expected]


@given(
    words=st.lists(
        st.text(alphabet="abcx", min_size=1, max_size=3), min_size=0, max_size=12
    ),
    n=st.integers(2, 4),
)
@_SET
def test_shingles_match_python_ngrams(spark, words, n):
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        shingles_from_tokens(tokens(F.col("text")), n).alias("sh")
    ).collect()[0].sh
    toks = text.strip().split() if text.strip() else [""]
    # split on empty string yields [''] — mirror Spark's split behavior
    expected = []
    seen = set()
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            expected.append(s)
    assert list(got) == expected


@pytest.mark.parametrize("n", [2, 3])
def test_shingles_short_input_empty(spark, n):
    df = spark.createDataFrame([("one",), ("",)], "text string")
    rows = df.select(
        shingles_from_tokens(tokens(F.col("text")), n).alias("sh")
    ).collect()
    assert all(r.sh == [] for r in rows)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=3, max_size=10).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.1, 0.3, 0.5]),
)
@_SET
def test_jaccard_pairs_match_python(spark, docs, threshold):
    """Inverted-index Jaccard vs brute-force python over random tiny
    corpora (duplicates, single-token docs, identical docs)."""
    from env_event_stream_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id bigint, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=threshold
        ).collect()
    }

    def shingles(text):
        toks = text.split()
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles(docs[i]), shingles(docs[j])
            if not a or not b:
                continue
            jac = round(len(a & b) / len(a | b), 4)
            if jac >= threshold:
                expected[(i, j)] = jac
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1,
                 max_size=12).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=10,
    ),
    max_hamming=st.sampled_from([1, 3, 6]),
)
@_SET
def test_simhash_pairs_blocking_has_full_recall(spark, docs, max_hamming):
    """Pigeonhole blocking must find EXACTLY the brute-force Hamming
    pairs — the old 4×8-bit/d≤6 scheme failed this (a d=5 pair can
    differ 2+1+1+1 across four chunks and share none)."""
    from env_event_stream_spark.operators.dedup import simhash, simhash_pairs

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id bigint, text string"
    )
    sigs = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id").collect()}
    expected = {}
    ids = sorted(sigs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            d = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
            if d <= max_hamming:
                expected[(a, b)] = d
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            df, "text", "doc_id", max_hamming=max_hamming
        ).collect()
    }
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=15,
    )
)
@_SET
def test_connected_components_match_python(spark, edges):
    from env_event_stream_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {
        r.node: r.component
        for r in connected_components(df, max_iter=20).collect()
    }

    # python union-find reference
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=10).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=10,
    ),
    modulus=st.sampled_from([2, 3]),
)
@_SET
def test_contamination_hits_match_python(spark, docs, modulus):
    """Broadcast decontamination vs brute-force python over random
    tiny corpora (short docs below n, identical docs, empty overlap)."""
    from env_event_stream_spark.operators.dedup import contamination_hits

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id bigint, text string"
    )
    train = df.where(F.col("doc_id") % modulus != 0)
    ev = df.where(F.col("doc_id") % modulus == 0)
    got = {
        r.doc_id: (r.n_shared, r.n_eval_docs)
        for r in contamination_hits(train, ev, "text", "doc_id").collect()
    }

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    ev_sh = {i: shingles(docs[i]) for i in range(len(docs)) if i % modulus == 0}
    expected = {}
    for i in range(len(docs)):
        if i % modulus == 0:
            continue
        mine = shingles(docs[i])
        shared = mine & set().union(*ev_sh.values()) if ev_sh else set()
        hit_docs = sum(1 for s in ev_sh.values() if s & mine)
        if shared:
            expected[i] = (len(shared), hit_docs)
    assert got == expected


# text drawn from a deliberately nasty alphabet: letters, digits,
# punctuation, ascii + unicode whitespace (NBSP, NEL), combining
# marks — the geometry where two regex engines would diverge if the
# pattern used anything non-portable
_bpe_text = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ012 .,:;!?-_'\"()\t\n\r\x0b\x0c") + ["\xa0", " ", "é", "ß", "中"]
    ),
    min_size=0,
    max_size=60,
)


@given(texts=st.lists(_bpe_text, min_size=1, max_size=6))
@_SET
def test_bpe_pretokens_match_duckdb(spark, texts):
    """The BPE pre-tokenizer must produce the IDENTICAL token stream
    on Spark (Java regex) and DuckDB (RE2) — that parity is what
    makes doc_bpe_token_stats oracle-checkable. Fuzzed over unicode
    whitespace/letters/combining chars."""
    import duckdb

    from env_event_stream_spark.functions.text import (
        BPE_PRETOKEN_RE,
        bpe_pretokens,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id int, text string"
    )
    got = {
        r.id: list(r.t)
        for r in df.select("id", bpe_pretokens(F.col("text")).alias("t")).collect()
    }
    import re as _re

    _ws_run = _re.compile(r"^[ \t\n\x0b\f\r]+$")
    con = duckdb.connect()
    for i, t in enumerate(texts):
        oracle = [
            x
            for x in con.execute(
                "SELECT regexp_extract_all(?, ?)", [t, BPE_PRETOKEN_RE]
            ).fetchone()[0]
            if not _ws_run.match(x)
        ]
        assert got[i] == oracle, (t, got[i], oracle)


@given(texts=st.lists(_bpe_text, min_size=1, max_size=5))
@_SET
def test_simhash_matches_duckdb(spark, texts):
    """The 64-bit SimHash signature must be bit-identical between the
    Spark mapInPandas operator and the DuckDB oracle on arbitrary
    text — the tokenizer contract (explicit six-char whitespace
    class) plus the md5 bit derivation, fuzzed end to end."""
    import duckdb

    from env_event_stream_spark.llm_queries import _SIMHASH_CTES
    from env_event_stream_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id").collect()}

    con = duckdb.connect()
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    con.register("documents", docs)
    oracle = dict(
        con.execute(
            "WITH " + _SIMHASH_CTES + "SELECT doc_id, simhash FROM sims"
        ).fetchall()
    )
    assert got == oracle, (texts, got, oracle)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=3, max_size=10).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.6, 0.9]),
)
@_SET
def test_containment_pairs_match_python(spark, docs, threshold):
    """Asymmetric containment vs brute force — both directions of each
    pair, identical docs (containment 1.0 both ways), subset docs."""
    from env_event_stream_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id bigint, text string"
    )
    got = {
        (r.id_inner, r.id_outer): r.containment
        for r in containment_pairs(
            df, "text", "doc_id", n=3, threshold=threshold
        ).collect()
    }

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expected = {}
    for i in range(len(docs)):
        for j in range(len(docs)):
            if i == j:
                continue
            a, b = shingles(docs[i]), shingles(docs[j])
            if not a or not b or not (a & b):
                continue
            c = round(len(a & b) / len(a), 6)
            if c >= threshold:
                expected[(i, j)] = c
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=13).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=6,
    ),
    window=st.sampled_from([2, 3, 5]),
)
@_SET
def test_passage_dedup_matches_python(spark, docs, window):
    """Windowed passage dedup vs brute force: alignment (tail words
    dropped), repeats within one doc, docs shorter than the window."""
    import hashlib
    from collections import defaultdict

    from env_event_stream_spark.operators.dedup import passage_dedup

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id bigint, text string"
    )
    got = {
        r.passage_hash: (r.n_occ, r.n_docs, r.keep_doc)
        for r in passage_dedup(df, "text", "doc_id", window=window).collect()
    }

    occ = defaultdict(list)
    for i, d in enumerate(docs):
        toks = d.split() if d.strip() else []
        for k in range(len(toks) // window):
            p = " ".join(toks[k * window : (k + 1) * window])
            occ[hashlib.md5(p.encode()).hexdigest()].append(i)
    expected = {
        h: (len(ids), len(set(ids)), min(ids))
        for h, ids in occ.items()
        if len(ids) >= 2
    }
    assert got == expected


def test_pii_redact_and_counts(spark):
    """Redaction chain order and per-kind counts on crafted edge
    cases: multiple matches per kind, dotted email domains that must
    NOT be double-redacted as IPs, adjacent punctuation."""
    from env_event_stream_spark.functions.text import pii_counts, pii_redact

    cases = [
        (0, "mail a.b_c%d+e@sub.domain.org now", "mail <EMAIL> now", 1, 0, 0),
        (1, "x@y.co and z@w.io", "<EMAIL> and <EMAIL>", 2, 0, 0),
        (2, "call +1-202-555-0123 or +44-700-900-1234.", "call <PHONE> or <PHONE>.", 0, 2, 0),
        (3, "host 10.0.0.1, peer 192.168.255.254", "host <IP>, peer <IP>", 0, 0, 2),
        (4, "no pii here", "no pii here", 0, 0, 0),
        # digit-led domain tail is NOT an email (pattern contract
        # requires an alphabetic TLD, matching the oracle SQL), and
        # "10.0.0.1x" has no trailing word boundary so it is not an
        # IP either — only the phone is redacted.
        (5, "a@10.0.0.1x +1-202-555-0123", "a@10.0.0.1x <PHONE>", 0, 1, 0),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, *_ in cases], "doc_id bigint, text string"
    )
    counts = pii_counts(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            pii_redact(F.col("text")).alias("red"),
            *[c.alias(f"n_{k}") for k, c in counts.items()],
        ).collect()
    }
    for i, _t, red, ne, np_, ni in cases:
        r = rows[i]
        assert r.red == red, (i, r.red)
        assert (r.n_email, r.n_phone, r.n_ip) == (ne, np_, ni), i


# ---------------------------------------------------------------------------
# Round-6 operators: black-box property tests — random corpora written
# to a temp documents.parquet, catalog query vs pure-Python reference.
# ---------------------------------------------------------------------------

_WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
_doc_text = st.lists(_WORDS, min_size=0, max_size=12).map(" ".join)


def _write_docs(rows):
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="propdocs_")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
        f"{d}/documents.parquet",
    )
    return d


@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
@_SET
def test_repeated_ngram_frac_matches_python(spark, texts):
    """doc_repeated_ngram_frac vs a pure-Python recount: per doc, the
    number of 5-grams (with multiplicity) whose gram string occurs in
    >= 2 distinct docs. Small alphabet forces cross-doc collisions."""
    from env_event_stream_spark.llm_queries import doc_repeated_ngram_frac

    rows = [(i, t, "src1") for i, t in enumerate(texts)]
    sf_dir = _write_docs(rows)

    import re

    grams: dict[int, list[str]] = {}
    for i, t, _src in rows:
        tk = re.split(r"\s+", t.strip())  # the tokens() contract: '' -> ['']
        if len(tk) >= 5:
            grams[i] = [
                " ".join(tk[j : j + 5]) for j in range(len(tk) - 4)
            ]
    docs_per_gram: dict[str, set[int]] = {}
    for i, gs in grams.items():
        for g in set(gs):
            docs_per_gram.setdefault(g, set()).add(i)
    expect = {}
    for i, gs in grams.items():
        rep = sum(1 for g in gs if len(docs_per_gram[g]) >= 2)
        expect[i] = (len(gs), rep, round(rep * 1.0 / len(gs), 4))

    got = {
        r.doc_id: (r.n_grams, r.n_repeated, r.repeated_frac)
        for r in doc_repeated_ngram_frac(spark, sf_dir).collect()
    }
    assert got == expect


@given(
    texts=st.lists(_doc_text, min_size=2, max_size=8),
    n_target=st.integers(0, 3),
)
@_SET
def test_dsir_sample_matches_python(spark, texts, n_target):
    """doc_dsir_sample vs a full pure-Python replication: hashed-bucket
    unigram models with add-1 smoothing, mean per-token log importance
    ratio, md5-Gumbel key, top-50 by (rounded key DESC, doc_id ASC).
    Covers the empty-target and token-free-doc edges the fixed corpus
    never hits."""
    import hashlib
    import math

    from env_event_stream_spark.llm_queries import doc_dsir_sample

    rows = [
        (i, t, "src0" if i < n_target else f"src{1 + i % 3}")
        for i, t in enumerate(texts)
    ]
    sf_dir = _write_docs(rows)

    def hex32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    import re

    tgt: dict[int, int] = {}
    raw: dict[int, int] = {}
    nt = nr = 0
    doc_buckets: dict[int, list[int]] = {}
    for i, t, src in rows:
        tk = re.split(r"\s+", t.strip())  # tokens() contract: '' -> ['']
        bs = [hex32(w) % 1024 for w in tk]
        if src == "src0":
            for b in bs:
                tgt[b] = tgt.get(b, 0) + 1
            nt += len(bs)
        else:
            doc_buckets[i] = bs
            for b in bs:
                raw[b] = raw.get(b, 0) + 1
            nr += len(bs)
    expect_rows = []
    for i, bs in doc_buckets.items():
        alr = sum(
            math.log((tgt.get(b, 0) + 1.0) / (nt + 1024))
            - math.log((raw[b] + 1.0) / (nr + 1024))
            for b in bs
        ) / len(bs)
        u = (hex32(f"dsir:{i}") + 0.5) / 4294967296.0
        key = round(alr - math.log(-math.log(u)), 4)
        expect_rows.append((i, len(bs), round(alr, 4), key))
    expect_rows.sort(key=lambda r: (-r[3], r[0]))
    expect = [
        (i, n, a, k, rank + 1)
        for rank, (i, n, a, k) in enumerate(expect_rows[:50])
    ]

    got = sorted(
        (
            (r.doc_id, r.n_tokens, r.avg_logratio, r.sample_key, r.rank)
            for r in doc_dsir_sample(spark, sf_dir).collect()
        ),
        key=lambda r: r[4],
    )
    assert got == expect


# ---------------------------------------------------------------------------
# Misra-Gries candidate-superset + exact-recount properties
# ---------------------------------------------------------------------------


def _mg_reference(stream, cap):
    """Textbook sequential Misra-Gries (decrement-all overflow)."""
    counts = {}
    for x in stream:
        if x in counts:
            counts[x] += 1
        elif len(counts) < cap:
            counts[x] = 1
        else:
            for k in list(counts):
                counts[k] -= 1
                if counts[k] == 0:
                    del counts[k]
    return counts


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=400),
    st.integers(min_value=2, max_value=12),
)
@settings(max_examples=200, deadline=None)
def test_mg_batch_fold_matches_superset_guarantee(xs, cap):
    """The batched min-subtraction fold used in
    operators/sketches.misra_gries_candidates keeps every item whose
    true frequency exceeds n/(cap+1) — the superset guarantee the
    exact recount relies on — and never overcounts any survivor."""
    from collections import Counter

    # replicate the batched fold: value_counts merge + min-subtraction
    counts = {}
    for i in range(0, len(xs), 37):  # arbitrary batch size
        batch = Counter(str(x) for x in xs[i : i + 37])
        for item, c in batch.items():
            counts[item] = counts.get(item, 0) + c
        while len(counts) > cap:
            m = min(counts.values())
            counts = {k: v - m for k, v in counts.items() if v > m}
    true = Counter(str(x) for x in xs)
    n = len(xs)
    for item, f in true.items():
        if f * (cap + 1) > n:
            assert item in counts, (item, f, n, cap)
    for item, v in counts.items():
        assert v <= true[item]


_bpe_word = st.text(
    alphabet=st.sampled_from(list("aabbc") + ["é", "中"]),
    min_size=1,
    max_size=8,
)


@given(
    words=st.dictionaries(
        _bpe_word, st.integers(1, 50), min_size=1, max_size=12
    ),
    k=st.integers(1, 4),
)
@_SET
def test_bpe_merges_spark_matches_python(spark, words, k):
    """The distributed BPE trainer and the independent pure-Python
    reference must agree merge-for-merge — weights are exact integer
    sums with a (weight DESC, left ASC, right ASC) total order, so
    any divergence is a real bug (overlap counting, greedy-apply
    order, or tie-break). The tiny skewed alphabet maximizes
    overlapping pairs ('aaa'), re-merge chances and ties."""
    from env_event_stream_spark.operators.bpe import (
        learn_merges,
        learn_merges_py,
    )

    df = spark.createDataFrame(
        [(w, f) for w, f in words.items()], "word string, freq bigint"
    )
    got = learn_merges(df, k)
    want = learn_merges_py(words, k)
    assert got == want


@given(
    base=st.lists(
        st.sampled_from(["apple", "banana", "cat", "dog", "egg"]),
        min_size=6,
        max_size=10,
    ),
    pre=st.lists(
        st.sampled_from(["x1", "y2", "z3"]), min_size=0, max_size=5
    ),
    post=st.lists(
        st.sampled_from(["q7", "r8", "s9"]), min_size=0, max_size=5
    ),
)
@_SET
def test_winnowing_guarantee_shared_run_shares_fingerprint(
    spark, base, pre, post
):
    """The winnowing guarantee (Schleimer et al. §3): two documents
    sharing a run of >= k+w-1 = 6 words must share at least one
    selected fingerprint, wherever the run sits in each document.
    Doc A is the bare run; doc B embeds the same run between random
    padding."""
    from env_event_stream_spark.operators.dedup import winnow_pairs

    doc_a = " ".join(base)
    doc_b = " ".join(pre + base + post)
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id bigint, text string"
    )
    pairs = winnow_pairs(
        df, "text", "doc_id", df_cap=10**6, min_shared=1
    ).collect()
    assert any(r.id_a == 1 and r.id_b == 2 for r in pairs)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),   # group (null keys!)
            st.one_of(st.none(), st.integers(-50, 50)),  # value (nulls!)
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(1, 4),
)
@_SET
def test_partial_topk_equals_plain_window_topk(spark, rows, k):
    """The map-side-heap top-k must be row-identical to the plain
    window form for any grouping/skew/tie pattern — INCLUDING null
    group keys (pandas dropna trap) and null order values (Spark
    desc = NULLS LAST vs pandas na_position); ids give the total
    order, duplicate values exercise the tie-break."""
    from env_event_stream_spark.operators import relational as R

    data = [(g, i, None if v is None else float(v))
            for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "g bigint, id bigint, v double"
    ).repartition(4)
    a = R.top_k_per_group_partial(
        df, ["g"], "v", k, descending=True, tiebreak="id"
    ).collect()
    b = R.top_k_per_group(
        df, ["g"], [F.col("v").desc(), F.col("id").asc()], k
    ).collect()
    key = lambda t: tuple(repr(x) for x in t)  # None-safe total order
    assert sorted(map(tuple, a), key=key) == sorted(map(tuple, b), key=key)


def _neg_str(x: str):
    """Key helper: makes 'lower string sorts FIRST' usable inside a
    max-comparison tuple (ASC op order within a DESC comparison)."""
    return tuple(-ord(c) for c in x)


@given(
    base=st.dictionaries(st.integers(0, 6), st.integers(0, 99),
                         min_size=0, max_size=5),
    ops=st.lists(
        st.tuples(
            st.integers(0, 8),
            st.integers(0, 99),
            st.sampled_from(["insert", "update", "upsert", "delete"]),
            st.integers(0, 5),
        ),
        min_size=0,
        max_size=10,
    ),
)
@_SET
def test_merge_changes_matches_dict_reference(spark, base, ops):
    """CDC merge vs an in-memory reference: compact the batch by
    (seq DESC, op-precedence DESC, and the SAME deterministic
    tie-break) then apply the op table semantics to a dict. Any
    divergence is a compaction-order or matched/unmatched bug."""
    from env_event_stream_spark.operators.merge import merge_changes

    base_df = spark.createDataFrame(
        list(base.items()), "id bigint, v bigint"
    )
    ch_df = spark.createDataFrame(
        ops, "id bigint, v bigint, op string, seq bigint"
    )

    got = sorted((r.id, r.v) for r in merge_changes(base_df, ch_df, "id").collect())

    # reference: pick per-key winner by (seq, rank); ties beyond that
    # are resolved identically to the operator's row_number (stable on
    # input order is NOT guaranteed there, so keep generated batches
    # free of full ties: drop exact (key, seq, rank) duplicates the
    # same way both sides would pick arbitrarily)
    rank = {"delete": 3, "upsert": 2, "update": 2, "insert": 1}
    win: dict[int, tuple] = {}
    for k, v, op, seq in ops:
        cur = win.get(k)
        # mirror the operator's (seq DESC, rank DESC, op ASC) order:
        # higher seq wins, then higher rank, then LOWER op string
        if cur is None or (seq, rank[op], _neg_str(op)) > (
            cur[2], rank[cur[1]], _neg_str(cur[1])
        ):
            win[k] = (v, op, seq)
    ref = dict(base)
    for k, (v, op, seq) in win.items():
        if op == "delete":
            ref.pop(k, None)
        elif op == "update":
            if k in ref:
                ref[k] = v
        elif op == "upsert":
            ref[k] = v
        elif op == "insert":
            if k not in dict(base):
                ref[k] = v
    want = sorted(ref.items())

    # exact full ties (same key, seq, OP, different v) are genuinely
    # ambiguous — skip those draws (update-vs-upsert at one (seq,rank)
    # is NOT ambiguous anymore: op ASC breaks it on both sides)
    seen = {}
    ambiguous = False
    for k, v, op, seq in ops:
        key = (k, seq, op)
        if key in seen and seen[key] != v:
            ambiguous = True
        seen[key] = v
    if not ambiguous:
        assert got == want


def test_pmi_collocations_match_counter_reference(spark, sf_dir):
    """Top-50 lift table must equal a direct Python recompute from
    the same whitespace bigrams (counts, integer lift, tie order)."""
    from collections import Counter

    from env_event_stream_spark.catalog import QUERIES

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    pairs = []
    for t in texts:
        tk = t.strip().split()
        pairs.extend(zip(tk, tk[1:]))
    n = len(pairs)
    c2 = Counter(pairs)
    c1 = Counter(a for a, _ in pairs)
    cr = Counter(b for _, b in pairs)
    scored = [
        (
            (n * c * 1000) // (c1[a] * cr[b]),
            a,
            b,
            c,
            c1[a],
            cr[b],
        )
        for (a, b), c in c2.items()
        if c >= 5
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [
        (a, b, c, ca, cb, lift) for lift, a, b, c, ca, cb in scored[:50]
    ]
    got = [
        (r.w1, r.w2, r.c_pair, r.c_w1, r.c_w2, r.lift_milli)
        for r in QUERIES["doc_pmi_collocations"](spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(want)


def test_pmi_collocations_empty_bigram_corpus(spark, tmp_path):
    """An all-single-token corpus has ZERO bigrams: the n_pairs
    rollup (F.sum over an empty table) is NULL without the coalesce
    (ADVICE r16) and assert_true(NULL < 9e7) would throw where the
    pre-r16 count(*) returned 0. Must yield an empty top-k, no error."""
    from env_event_stream_spark.catalog import QUERIES

    spark.createDataFrame(
        [(1, "alpha", "en", "s", 5), (2, "beta", "en", "s", 4)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = QUERIES["doc_pmi_collocations"](spark, str(tmp_path)).collect()
    assert out == []


def test_textrank_matches_python_pagerank_replay(spark, sf_dir):
    """Full top-30 must equal an independent pure-Python integer
    pagerank over the same vocab-bounded adjacency graph."""
    from collections import Counter, defaultdict

    from env_event_stream_spark.catalog import QUERIES
    from env_event_stream_spark.llm_queries import (
        _TR_ITERS,
        _TR_MINCOUNT,
        _TR_TOPK,
        _TR_UNIT,
    )

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]
    toks = Counter()
    pairs = set()
    docs_tk = [t.strip().split() for t in texts]
    for tk in docs_tk:
        toks.update(tk)
    vocab = {w for w, c in toks.items() if c >= _TR_MINCOUNT}
    for tk in docs_tk:
        for a, b in zip(tk, tk[1:]):
            if a != b and a in vocab and b in vocab:
                pairs.add((a, b))
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    nn = len(nodes)
    r = {v: _TR_UNIT // nn for v in nodes}
    for _ in range(_TR_ITERS):
        inc = defaultdict(int)
        for u in nodes:
            share = r[u] // len(adj[u])
            for v in adj[u]:
                inc[v] += share
        r = {
            v: (15 * _TR_UNIT) // (100 * nn) + (85 * inc[v]) // 100
            for v in nodes
        }
    want = sorted(
        ((v, len(adj[v]), r[v]) for v in nodes),
        key=lambda t: (-t[2], t[0]),
    )[:_TR_TOPK]
    want = [
        (w, od, ru, i + 1) for i, (w, od, ru) in enumerate(want)
    ]
    got = [
        (g.word, g.odeg, g.rank_units, g.pos)
        for g in sorted(
            QUERIES["doc_textrank_keywords"](spark, sf_dir).collect(),
            key=lambda g: g.pos,
        )
    ]
    assert got == want


def test_priority_sample_matches_hashlib_replay(spark, sf_dir):
    """Top-100 priority sample vs a hashlib/int replay; the sample
    must also skew heavy (weighted inclusion ~ n_chars)."""
    import hashlib

    from env_event_stream_spark.catalog import QUERIES
    from env_event_stream_spark.llm_queries import _PRIO_K

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    scored = []
    for r in rows:
        u = (
            int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
            + 1
        )
        scored.append(
            ((r.n_chars * 4294967296) // u, r.doc_id, r.source, r.n_chars)
        )
    scored.sort(key=lambda t: (-t[0], t[1]))
    want = [
        (d, s, w, p) for p, d, s, w in scored[:_PRIO_K]
    ]
    got = [
        (r.doc_id, r.source, r.weight, r.priority)
        for r in QUERIES["doc_priority_sample"](spark, sf_dir).collect()
    ]
    assert sorted(got) == sorted(want)
    if len(rows) > 2 * _PRIO_K:
        corpus_mean = sum(r.n_chars for r in rows) / len(rows)
        sample_mean = sum(w for _, _, w, _ in got) / len(got)
        assert sample_mean > corpus_mean


def test_priority_sample_eval_matches_hashlib_replay(spark, sf_dir):
    """DLT estimator replay: threshold = (k+1)-th priority, estimate
    = sum(max(w, tau)) over the sample — every output cell."""
    import hashlib

    from env_event_stream_spark.catalog import QUERIES
    from env_event_stream_spark.llm_queries import _PRIO_K

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    )
    scored = []
    for r in rows:
        u = (
            int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
            + 1
        )
        scored.append(((r.n_chars * 4294967296) // u, r.doc_id, r.n_chars))
    scored.sort(key=lambda t: (-t[0], t[1]))
    tau = scored[_PRIO_K][0] if len(scored) > _PRIO_K else 0
    sample = scored[:_PRIO_K]
    est = sum(max(w, tau) for _, _, w in sample)
    true = sum(r.n_chars for r in rows)
    err = (
        ((est - true) * 1000) // true
        if est >= true
        else -(((true - est) * 1000) // true)
    )
    g = QUERIES["doc_priority_sample_eval"](spark, sf_dir).collect()[0]
    assert (
        g.n_sample,
        g.est_total_chars,
        g.true_total_chars,
        g.err_milli,
    ) == (len(sample), est, true, err)


def test_asof_tolerance_matches_merge_asof_semantics(spark, sf_dir):
    """pandas merge_asof(tolerance=...) semantics: nearest prior
    match, INVALIDATED (not replaced) when the gap exceeds 10 min —
    replayed directly per purchase."""
    import bisect
    from collections import defaultdict

    from env_event_stream_spark.catalog import QUERIES

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "event_type")
        .collect()
    )
    views = defaultdict(list)
    for r in rows:
        if r.event_type == "view":
            views[r.user_id].append(r.ts)
    for v in views.values():
        v.sort()
    # the raw-parquet ts above is TIMESTAMP_NTZ (wall-clock naive =
    # UTC), but the query output is TimestampType, which collect()
    # renders in the PROCESS-LOCAL tz — normalize it back to the UTC
    # instant so the replay holds off-UTC (tz invariance run)
    import datetime as _dt

    def _utc(d):
        return (
            d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            if d is not None
            else None
        )

    got = {
        r.event_id: (_utc(r.matched_view_ts), r.gap_s)
        for r in QUERIES["asof_tolerance_join"](spark, sf_dir).collect()
    }
    n_checked = 0
    for r in rows:
        if r.event_type != "purchase":
            continue
        vs = views.get(r.user_id, [])
        i = bisect.bisect_right(vs, r.ts)
        if i == 0:
            want = (None, None)
        else:
            prior = vs[i - 1]
            gap_us = int(
                (r.ts - prior).total_seconds() * 1_000_000
            )
            if gap_us <= 600_000_000:
                want = (prior, gap_us // 1_000_000)
            else:
                want = (None, None)
        assert got[r.event_id] == want, r.event_id
        n_checked += 1
    assert n_checked and len(got) == n_checked
