"""Property-based tests (hypothesis) for the engine's invariant-bearing
operators: renumbering, portable hashing, shingling.

Each property runs a bounded number of examples (Spark jobs are not
free); the generators aim at the sharp edges — duplicates in sort
values, empty/short strings, non-ascii-adjacent chars, whitespace runs.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from kaggle_data_pipeline_with_aws_spark.operators.renumber import (
    contiguous_row_number,
    global_running_max,
)
from kaggle_data_pipeline_with_aws_spark.operators.text import (
    HASH_MOD,
    portable_hash,
    word_shingles,
    tokens,
)

# printable-ascii text (the portable hash folds ascii codes; the
# documents testdata is ascii — non-ascii would need ascii() parity
# verification against DuckDB, out of the hash's contract)
ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)


def py_portable_hash(s: str, mod: int = HASH_MOD) -> int:
    import hashlib

    digest = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(digest[:15], 16) % mod


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 2**31)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    )
)
def test_contiguous_row_number_is_dense_and_order_consistent(
    spark_session, rows
):
    df = spark_session.createDataFrame(rows, "v INT, k LONG")
    out = contiguous_row_number(df, ["v", "k"], out_col="rn").collect()
    assert sorted(r.rn for r in out) == list(range(1, len(rows) + 1))
    by_rn = sorted(out, key=lambda r: r.rn)
    assert [(r.v, r.k) for r in by_rn] == sorted(rows)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 50),
            st.integers(0, 2**31),
            st.none() | st.integers(-100, 100),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    )
)
def test_global_running_max_matches_single_window(spark_session, rows):
    df = spark_session.createDataFrame(rows, "v INT, k LONG, x INT")
    got = global_running_max(df, ["v", "k"], "x", out_col="m")
    w = Window.orderBy("v", "k").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("m", F.max("x").over(w))
    assert sorted((r.k, r.m) for r in got.collect()) == sorted(
        (r.k, r.m) for r in want.collect()
    )


@settings(max_examples=8, deadline=None)
@given(st.lists(ascii_text, min_size=1, max_size=30))
def test_portable_hash_matches_python_model(spark_session, texts):
    df = spark_session.createDataFrame([(t,) for t in texts], "s STRING")
    got = [
        r.h for r in df.select(portable_hash(F.col("s")).alias("h")).collect()
    ]
    assert got == [py_portable_hash(t) for t in texts]


@settings(max_examples=8, deadline=None)
@given(st.lists(ascii_text, min_size=1, max_size=25))
def test_word_shingles_match_python_model(spark_session, texts):
    df = spark_session.createDataFrame([(t,) for t in texts], "s STRING")
    got = [
        r.sh
        for r in df.select(
            word_shingles(tokens("s"), 3).alias("sh")
        ).collect()
    ]
    for t, sh in zip(texts, got):
        toks = t.split(" ")
        want: list[str] = []
        for i in range(max(0, len(toks) - 2)):
            g = " ".join(toks[i : i + 3])
            if g not in want:
                want.append(g)
        assert sh == want, f"text={t!r}"


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(ascii_text.filter(lambda s: s.strip()), min_size=1, max_size=90),
        min_size=1,
        max_size=6,
    )
)
def test_chunking_reassembles_any_corpus(spark_session, docs):
    """d34 invariant: chunk texts concatenate back to the exact token
    stream and every chunk except the last is full-width."""
    from kaggle_data_pipeline_with_aws_spark.plans import corpus_stats

    df = spark_session.createDataFrame(
        [(i, " ".join(toks), "en", "src0", 0) for i, toks in enumerate(docs)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    orig = corpus_stats._docs
    corpus_stats._docs = lambda s, d: df
    try:
        out = corpus_stats.d34_chunk_documents(spark_session, "ignored").collect()
    finally:
        corpus_stats._docs = orig
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, toks in enumerate(docs):
        # whitespace-split semantics: split(" ") of the joined text
        expected = " ".join(toks).split(" ")
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert [r["chunk_idx"] for r in chunks] == list(range(len(chunks)))
        assert " ".join(r["chunk_text"] for r in chunks) == " ".join(expected)
        for r in chunks[:-1]:
            assert r["chunk_tokens"] == 32
        assert 1 <= chunks[-1]["chunk_tokens"] <= 32


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=12,
    )
)
def test_ewma_stays_within_window_bounds(spark_session, values):
    """q46 invariant: a convex combination of the trailing window never
    leaves [min(window), max(window)]."""
    from kaggle_data_pipeline_with_aws_spark.plans import corpus_stats

    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "view", v, "")
        for i, v in enumerate(values)
    ]
    df = spark_session.createDataFrame(
        rows,
        "event_id LONG, ts STRING, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    ).withColumn("ts", F.to_timestamp("ts"))
    orig = corpus_stats.load_table
    corpus_stats.load_table = lambda s, d, n: df
    try:
        out = {
            r["event_id"]: r["ewma"]
            for r in corpus_stats.q46_ewma_values(spark_session, "ignored").collect()
        }
    finally:
        corpus_stats.load_table = orig
    for i in range(len(values)):
        window = values[max(0, i - 4) : i + 1]
        assert min(window) - 1e-6 <= out[i] <= max(window) + 1e-6, (i, window, out[i])


@given(
    st.lists(
        st.text(alphabet="abc", min_size=3, max_size=12).map(
            lambda s: " ".join(s)  # spaces between chars → tokens
        ),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([0.5, 0.7, 0.8, 0.9]),
)
@settings(max_examples=20, deadline=None)
def test_ppjoin_jaccard_is_exact(spark_session, texts, threshold):
    """The prefix-filtered (PPJoin) ngram_jaccard_pairs must return
    EXACTLY the brute-force all-pairs answer for every threshold —
    the length/positional/prefix filters may only prune candidates
    that cannot reach the threshold."""
    from kaggle_data_pipeline_with_aws_spark.operators import dedup

    df = spark_session.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {
        (r["doc_id_1"], r["doc_id_2"]): (r["n_common"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=threshold).collect()
    }

    def shingles(t: str) -> set:
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    expected = {}
    for i, a in enumerate(texts):
        for j, b in enumerate(texts):
            if i >= j:
                continue
            sa, sb = shingles(a), shingles(b)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            jac = round(inter / (len(sa) + len(sb) - inter), 6)
            if jac >= threshold:
                expected[(i, j)] = (inter, jac)
    assert got == expected


@given(
    st.lists(
        st.text(alphabet="abc", min_size=3, max_size=12).map(
            lambda s: " ".join(s)
        ),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([0.5, 0.7, 0.9, 1.0]),
)
@settings(max_examples=20, deadline=None)
def test_ppjoin_containment_is_exact(spark_session, texts, threshold):
    """The asymmetric-PPJoin shingle_containment_pairs must return
    EXACTLY the brute-force all-ordered-pairs answer for every
    threshold — the contained-side prefix, the container length filter,
    and the positional filter may only prune pairs that cannot reach
    the containment threshold."""
    from kaggle_data_pipeline_with_aws_spark.operators import dedup

    df = spark_session.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {
        (r["contained_id"], r["container_id"]): (r["n_common"], r["containment"])
        for r in dedup.shingle_containment_pairs(
            df, threshold=threshold
        ).collect()
    }

    def shingles(t: str) -> set:
        toks = t.split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expected = {}
    for i, a in enumerate(texts):
        for j, b in enumerate(texts):
            if i == j:
                continue
            sa, sb = shingles(a), shingles(b)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            cont = round(inter / len(sa), 6)
            if cont >= threshold:
                expected[(i, j)] = (inter, cont)
    assert got == expected


# ---------------------------------------------------------------------------
# URL/domain operators (wave 41): python-model parity over generated URLs
# ---------------------------------------------------------------------------
_label = st.text(
    alphabet=st.characters(
        min_codepoint=ord("a"), max_codepoint=ord("z")
    ),
    min_size=1,
    max_size=6,
)
_hostish = st.lists(_label, min_size=1, max_size=4).map(".".join)


def _py_host(url: str) -> str | None:
    import re

    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", url)
    if not m:
        return None
    auth = m.group(1).split("@")[-1]
    host = re.sub(r":[0-9]+$", "", auth).lower().rstrip(".")
    # rstrip removes ALL trailing dots; the operator removes ONE —
    # generators below never emit multiple trailing dots
    return host or None


def _py_domain(host: str | None) -> str | None:
    from kaggle_data_pipeline_with_aws_spark.operators.domains import (
        PSL_1LABEL,
        PSL_2LABEL,
    )

    if host is None:
        return None
    labels = host.split(".")
    last1 = labels[-1]
    last2 = ".".join(labels[-2:]) if len(labels) >= 2 else None
    if len(labels) >= 3 and last2 in PSL_2LABEL:
        return ".".join(labels[-3:])
    if (
        len(labels) >= 2
        and last1 in PSL_1LABEL
        and last2 not in PSL_2LABEL
    ):
        return last2
    return None


@settings(max_examples=8, deadline=None)
@given(
    hosts=st.lists(_hostish, min_size=1, max_size=12),
    scheme=st.sampled_from(["http", "https", "ftp"]),
    port=st.sampled_from(["", ":80", ":8443"]),
    user=st.sampled_from(["", "u:p@"]),
)
def test_url_host_and_domain_match_python_model(
    spark, hosts, scheme, port, user
):
    from kaggle_data_pipeline_with_aws_spark.operators.domains import (
        registrable_domain,
        url_host,
    )

    urls = [f"{scheme}://{user}{h}{port}/x/y?q=1#f" for h in hosts]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        (r.h, r.d)
        for r in df.select(
            url_host(F.col("url")).alias("h"),
            registrable_domain(url_host(F.col("url"))).alias("d"),
        ).collect()
    ]
    expect = [
        (_py_host(u), _py_domain(_py_host(u))) for u in urls
    ]
    assert got == expect
    # invariants: host lowercase; domain (when present) is a suffix of
    # the host made of whole labels
    for h, d in got:
        if h is not None:
            assert h == h.lower()
        if d is not None:
            assert h == d or h.endswith("." + d)
