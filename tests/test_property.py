"""Property-based tests (hypothesis): the bucketed as-of join is
result-identical to the naive join-then-rank form, and sessionization
matches a pure-Python reference implementation on arbitrary inputs."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graph_db_spark.operators.joins import asof_join, asof_join_bucketed
from graph_db_spark.operators.sessionize import session_intervals

EPOCH = datetime.datetime(2024, 1, 1)


def _ts(seconds: int) -> datetime.datetime:
    return EPOCH + datetime.timedelta(seconds=seconds)


asof_case = st.tuples(
    st.lists(  # left: (key, ts_seconds)
        st.tuples(st.integers(0, 2), st.integers(0, 5000)), min_size=1, max_size=12
    ),
    st.lists(  # right: (key, ts_seconds); unique idx added below as tiebreak
        st.tuples(st.integers(0, 2), st.integers(0, 5000)), min_size=0, max_size=12
    ),
    st.sampled_from([60, 300, 900]),  # tolerance seconds
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(case=asof_case)
def test_bucketed_asof_equals_naive(spark, case):
    left_rows, right_rows, tol = case
    left = spark.createDataFrame(
        [(k, _ts(s), i) for i, (k, s) in enumerate(left_rows)], ["k", "lts", "lrow"]
    )
    right = spark.createDataFrame(
        [(k, _ts(s), i) for i, (k, s) in enumerate(right_rows)],
        ["k", "rts", "idx"],
    ) if right_rows else spark.createDataFrame([], "k int, rts timestamp, idx int")
    naive = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        tolerance_seconds=tol, tiebreak_cols=["idx"], direction="nearest",
    )
    bucketed = asof_join_bucketed(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        tolerance_seconds=tol, tiebreak_cols=["idx"],
    )
    key = lambda r: (r["k"], r["lts"], r["lrow"], r["rts"], r["idx"])  # noqa: E731
    assert sorted(map(key, naive.collect())) == sorted(map(key, bucketed.collect()))


def _python_sessions(rows, gap_s):
    """Reference sessionizer: per key, sorted timestamps, > gap starts a new
    session; returns {(key, start, end, n), ...}."""
    by_key: dict[int, list[int]] = {}
    for k, s in rows:
        by_key.setdefault(k, []).append(s)
    out = set()
    for k, ts in by_key.items():
        ts.sort()
        start = prev = ts[0]
        n = 1
        for t in ts[1:]:
            if t - prev > gap_s:
                out.add((k, start, prev, n))
                start, n = t, 0
            n += 1
            prev = t
        out.add((k, start, prev, n))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5000)), min_size=1, max_size=25
    ),
    gap=st.sampled_from([30, 600, 3600]),
)
def test_session_intervals_match_python(spark, rows, gap):
    df = spark.createDataFrame([(k, _ts(s)) for k, s in rows], ["k", "ts"])
    got = {
        (
            r["k"],
            int((r["start_at"] - EPOCH).total_seconds()),
            int((r["end_at"] - EPOCH).total_seconds()),
            r["n_events"],
        )
        for r in session_intervals(df, ["k"], "ts", gap).collect()
    }
    assert got == _python_sessions(rows, gap)


def _py_parse_range(s: str):
    """Pure-Python reference for parse_range (mirrors the reference's
    _parse_range semantics, graph_optimum_element_range.py:16-61)."""
    import re

    s = s.strip().replace(",", ".")
    num = r"[-+]?\d+(?:\.\d+)?"
    if m := re.fullmatch(rf"({num})\s*-\s*({num})", s):
        return (float(m.group(1)), float(m.group(2)))
    if m := re.fullmatch(rf">=?\s*({num})", s):
        return (float(m.group(1)), None)
    if m := re.fullmatch(rf"<=?\s*({num})", s):
        return (None, float(m.group(1)))
    if m := re.fullmatch(rf"({num})", s):
        return (float(m.group(1)), float(m.group(1)))
    return (None, None)


range_strings = st.one_of(
    # well-formed inputs from the grammar
    st.builds(
        lambda a, b, sep: f"{a}{sep}{b}",
        st.decimals(0, 99, places=1),
        st.decimals(0, 99, places=1),
        st.sampled_from(["-", " - ", "- "]),
    ),
    st.builds(lambda op, a: f"{op}{a}", st.sampled_from([">", ">=", "<", "<=", ""]),
              st.decimals(0, 99, places=1)),
    # junk
    st.text(st.sampled_from("0123456789.-<>= abc,"), max_size=12),
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(strings=st.lists(range_strings, min_size=1, max_size=20))
def test_parse_range_matches_python_reference(spark, strings):
    from graph_db_spark.functions.scalars import parse_range

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [
        (r["r"]["range_min"], r["r"]["range_max"])
        for r in df.select(parse_range("s").alias("r")).collect()
    ]
    expected = [_py_parse_range(s) for s in strings]
    assert got == expected


words_strategy = st.lists(
    st.sampled_from(["a", "bb", "ccc", "dd", "e", "ffff"]),
    min_size=1,
    max_size=30,
)


def _py_top_word_fraction(tokens: list[str]) -> float:
    from collections import Counter

    return Counter(tokens).most_common(1)[0][1] / len(tokens)


def _py_dup_gram_fraction(tokens: list[str], n: int) -> float:
    total = len(tokens) - (n - 1)
    if total <= 0:
        return 0.0
    grams = [" ".join(tokens[i : i + n]) for i in range(total)]
    return (total - len(set(grams))) / total


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(tokens=words_strategy, n=st.sampled_from([2, 3]))
def test_repetition_signals_match_python_reference(spark, tokens, n):
    """The single-pass HOF forms (sorted-run top-word count, inline gram
    dedup) equal a direct Python multiset computation on arbitrary token
    streams."""
    from graph_db_spark.operators.quality import dup_gram_fraction, top_word_fraction

    text = " ".join(tokens)
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        top_word_fraction("text").alias("twf"),
        dup_gram_fraction("text", n).alias("dgf"),
    ).collect()[0]
    assert abs(row.twf - _py_top_word_fraction(tokens)) < 1e-9
    assert abs(row.dgf - _py_dup_gram_fraction(tokens, n)) < 1e-9


words = st.sampled_from(["a", "bb", "ccc", "dog", "x1"])
doc_texts = st.lists(
    st.lists(words, min_size=0, max_size=20).map(" ".join), min_size=1, max_size=6
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=doc_texts, size=st.integers(2, 6), stride=st.integers(1, 6))
def test_chunking_covers_and_reconstructs(spark, texts, size, stride):
    """Every token appears in ≥1 chunk; stitching stride-strided chunk
    heads reconstructs the token sequence exactly."""
    from pyspark.sql import functions as F

    from graph_db_spark.operators.text import chunk_tokens, tokens

    stride = min(stride, size)  # stride > size is rejected by the operator
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = df.select(
        "doc_id",
        tokens("text").alias("toks"),
        chunk_tokens("text", size, stride).alias("chunks"),
    ).collect()
    for r in rows:
        toks = r["toks"]
        chunks = sorted(r["chunks"], key=lambda c: c["chunk_idx"])
        # starts are 1, 1+stride, ... and never skip the tail
        assert [c["start_tok"] for c in chunks] == list(range(1, max(len(toks), 1) + 1, stride))
        # reconstruction: first `stride` tokens of each chunk, concatenated
        rebuilt = []
        for c in chunks:
            rebuilt.extend(c["chunk"].split(" ")[:stride] if c["chunk"] else [""])
        assert rebuilt[: len(toks)] == toks
        for c in chunks:
            got = c["chunk"].split(" ") if c["chunk"] else [""]
            assert got == toks[c["start_tok"] - 1 : c["start_tok"] - 1 + size]
            assert c["n_tokens"] == len(toks[c["start_tok"] - 1 : c["start_tok"] - 1 + size])


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=doc_texts, n=st.integers(2, 4))
def test_positional_ngrams_match_python_reference(spark, texts, n):
    from pyspark.sql import functions as F

    from graph_db_spark.operators.text import positional_ngrams, tokens

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = df.select(
        "doc_id", tokens("text").alias("toks"), positional_ngrams("text", n).alias("g")
    ).collect()
    for r in rows:
        toks = r["toks"]
        expect = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        assert r["g"] == expect


bucket_case = st.tuples(
    # docs: groups of identical texts (group id, copies) → signature buckets
    st.lists(st.tuples(st.integers(0, 3), st.integers(1, 8)), min_size=1, max_size=6),
    st.sampled_from([1, 10, 200, 10**9]),  # pair budgets incl. always-split / never-split
)


def _bucket_docs(spark, groups):
    rows = []
    i = 0
    filler = " ".join(f"w{j}" for j in range(12))
    for gid, copies in groups:
        for _ in range(copies):
            rows.append((i, f"group {gid} text {filler} body"))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(case=bucket_case)
def test_guarded_self_join_equals_plain_on_random_buckets(spark, case):
    """The 2-D cell split must be invisible in the result for ANY bucket
    size distribution and ANY pair budget — including budgets that split
    every bucket into many cells."""
    from graph_db_spark.operators.dedup import minhash_lsh_candidates

    groups, budget = case
    df = _bucket_docs(spark, groups)
    plain = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_candidates(df, "text", "doc_id", max_task_pairs=10**12).collect()}
    split = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_candidates(df, "text", "doc_id", max_task_pairs=budget).collect()}
    assert split == plain


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(case=bucket_case, cut=st.integers(1, 20))
def test_guarded_cross_join_equals_plain_on_random_buckets(spark, monkeypatch, case, cut):
    from graph_db_spark.operators import dedup
    from graph_db_spark.operators.dedup import (
        minhash_banded,
        minhash_lsh_candidates_against,
    )

    groups, budget = case
    df = _bucket_docs(spark, groups)
    corpus = df.filter(f"doc_id < {cut}")
    new = df.filter(f"doc_id >= {cut}")
    if corpus.count() == 0 or new.count() == 0:
        return
    index = minhash_banded(corpus, "text", "doc_id")
    monkeypatch.setattr(dedup, "_MAX_TASK_PAIRS", 10**12)
    plain = {(r["new_id"], r["corpus_id"]) for r in minhash_lsh_candidates_against(
        new, index, "text", "doc_id").collect()}
    monkeypatch.setattr(dedup, "_MAX_TASK_PAIRS", budget)
    split = {(r["new_id"], r["corpus_id"]) for r in minhash_lsh_candidates_against(
        new, index, "text", "doc_id").collect()}
    assert split == plain


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.one_of(
            st.lists(  # merge batch: (key, group, amount)
                st.tuples(
                    st.integers(0, 9),
                    st.sampled_from(["a", "b", "c"]),
                    st.integers(-50, 50),
                ),
                min_size=1,
                max_size=4,
            ),
            st.sets(st.integers(0, 9), min_size=1, max_size=3),  # delete keys
        ),
        min_size=1,
        max_size=4,
    )
)
def test_ivm_fold_equals_recompute_random_dml(spark, ops):
    """Property: for ANY sequence of merges/deletes (group migrations,
    negative amounts, repeated keys, deleting absent keys), folding each
    commit's CDC feed into the maintained view equals a fresh groupBy of
    the final table."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from graph_db_spark.writers.snapshots import (
        SnapshotTable,
        apply_changes_to_aggregate,
    )

    path = tempfile.mkdtemp(prefix="ivm_prop_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        t = SnapshotTable.create(
            spark,
            path,
            spark.createDataFrame([(0, "a", 1.0)], "k int, grp string, amount double"),
            ["k"],
            n_buckets=4,
        )
        feed0 = (
            t.read()
            .withColumn("_change", F.lit("insert"))
            .withColumn("_old_grp", F.lit(None).cast("string"))
            .withColumn("_old_amount", F.lit(None).cast("double"))
        )
        view = apply_changes_to_aggregate(None, feed0, ["grp"], ["amount"]).localCheckpoint()
        for op in ops:
            v0 = t.latest_version()
            if isinstance(op, set):
                t.delete(spark.createDataFrame([(k,) for k in sorted(op)], "k int"))
            else:
                t.merge(
                    spark.createDataFrame(
                        [(k, g, float(a)) for k, g, a in op],
                        "k int, grp string, amount double",
                    )
                )
            feed = t.changes(v0, include_old=True)
            view = apply_changes_to_aggregate(view, feed, ["grp"], ["amount"]).localCheckpoint()
        got = {r["grp"]: (r["n"], round(r["sum_amount"], 6)) for r in view.collect()}
        want = {
            r["grp"]: (r["cnt"], round(r["s"], 6))
            for r in t.read()
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("amount").alias("s"))
            .collect()
        }
        assert got == want, (got, want, ops)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.one_of(
            st.lists(  # merge batch: (key, group, amount)
                st.tuples(
                    st.integers(0, 9),
                    st.sampled_from(["a", "b", "c"]),
                    st.integers(-50, 50),
                ),
                min_size=1,
                max_size=4,
            ),
            st.sets(st.integers(0, 9), min_size=1, max_size=3),  # delete keys
        ),
        min_size=1,
        max_size=4,
    )
)
def test_ivm_minmax_fold_equals_recompute_random_dml(spark, ops):
    """Property: for ANY merge/delete sequence (bound retractions with and
    without same-batch rescue, group migrations, repeated keys, deleting
    absent keys), the maintained MIN/MAX view — fold for untouched bounds,
    targeted group-rescan for invalidated ones — equals a fresh groupBy
    of the final table."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from graph_db_spark.writers.snapshots import (
        SnapshotTable,
        apply_changes_to_minmax,
    )

    path = tempfile.mkdtemp(prefix="ivm_mm_prop_")
    shutil.rmtree(path, ignore_errors=True)
    try:
        t = SnapshotTable.create(
            spark,
            path,
            spark.createDataFrame([(0, "a", 1.0)], "k int, grp string, amount double"),
            ["k"],
            n_buckets=4,
        )
        feed0 = (
            t.read()
            .withColumn("_change", F.lit("insert"))
            .withColumn("_old_grp", F.lit(None).cast("string"))
            .withColumn("_old_amount", F.lit(None).cast("double"))
        )
        view = apply_changes_to_minmax(
            None, feed0, t.read(), ["grp"], "amount"
        ).localCheckpoint()
        for op in ops:
            v0 = t.latest_version()
            if isinstance(op, set):
                t.delete(spark.createDataFrame([(k,) for k in sorted(op)], "k int"))
            else:
                t.merge(
                    spark.createDataFrame(
                        [(k, g, float(a)) for k, g, a in op],
                        "k int, grp string, amount double",
                    )
                )
            feed = t.changes(v0, include_old=True)
            view = apply_changes_to_minmax(
                view, feed, t.read(), ["grp"], "amount"
            ).localCheckpoint()
        got = {r["grp"]: (r["n"], r["min_v"], r["max_v"]) for r in view.collect()}
        want = {
            r["grp"]: (r["cnt"], r["mn"], r["mx"])
            for r in t.read()
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("amount").alias("mn"),
                F.max("amount").alias("mx"),
            )
            .collect()
        }
        assert got == want, (got, want, ops)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=20,
    ),
    mn=st.integers(1, 3),
    width=st.integers(0, 2),
)
def test_kleene_pairs_equal_python_reference(spark, edges, mn, width):
    """Property: for ANY small directed graph (cycles, multi-edges,
    diamonds) and ANY bounded span *mn..mx, the pair-set BFS expansion
    equals a brute-force Python reachability-by-exact-length union."""
    from graph_db_spark.graph.model import PropertyGraph

    mx = mn + width
    e = spark.createDataFrame(
        [(f"v{a}", f"v{b}", "R") for a, b in edges],
        "src string, dst string, rel_type string",
    )
    v = spark.createDataFrame(
        [(f"v{i}", "T") for i in range(8)], "id string, label string"
    )
    g = PropertyGraph(vertices=v, edges=e)
    got = {(r["x"], r["y"]) for r in g.find(f"(x)-[:R*{mn}..{mx}]->(y)").collect()}

    adj = {}
    for a, b in set(edges):
        adj.setdefault(f"v{a}", set()).add(f"v{b}")
    level = {(n, m) for n in adj for m in adj[n]}  # length 1
    want = set(level) if mn <= 1 else set()
    for depth in range(2, mx + 1):
        level = {(a, c) for a, b in level for c in adj.get(b, ())}
        if depth >= mn:
            want |= level
    assert got == want, (sorted(got), sorted(want), mn, mx, sorted(set(edges)))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda t: t[0] != t[1]),
        min_size=3,
        max_size=25,
    ),
    k=st.integers(3, 5),
)
def test_k_truss_equals_python_peel(spark, edges, k):
    """Property: for ANY small graph (multi-edges, reversed duplicates)
    and k in 3..5, the DataFrame edge-peel equals a brute-force Python
    peel to fixpoint — surviving edge set AND per-edge supports."""
    from collections import defaultdict

    from graph_db_spark.graph.algorithms import k_truss

    e = spark.createDataFrame(
        [(f"v{a}", f"v{b}", "E") for a, b in edges],
        "src string, dst string, rel_type string",
    )
    got = {(r["a"], r["b"]): r["support"] for r in k_truss(e, k).collect()}

    cur = {tuple(sorted((f"v{a}", f"v{b}"))) for a, b in edges}
    while True:
        nbr = defaultdict(set)
        for a, b in cur:
            nbr[a].add(b)
            nbr[b].add(a)
        supp = {(a, b): len(nbr[a] & nbr[b]) for a, b in cur}
        keep = {p for p in cur if supp[p] >= k - 2}
        if keep == cur:
            want = {p: supp[p] for p in keep}
            break
        cur = keep
        if not cur:
            want = {}
            break
    assert got == want, (got, want, k, sorted(set(edges)))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)), min_size=1, max_size=18
    )
)
def test_scc_matches_bruteforce_on_random_digraphs(spark, edges):
    """TRIM + FW-BW SCC equals a reachability brute force on arbitrary
    small digraphs (self-loops dropped by the operator, duplicate edges
    tolerated). Ids are single digits so string-min == numeric-min."""
    from graph_db_spark.graph.algorithms import strongly_connected_components

    pairs = [(str(a), str(b)) for a, b in edges if a != b]
    if not pairs:
        return
    nodes = sorted({x for p in pairs for x in p})
    adj = {n: set() for n in nodes}
    for u, v in pairs:
        adj[u].add(v)

    def reach(u):
        seen, stk = {u}, [u]
        while stk:
            x = stk.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stk.append(y)
        return seen

    R = {u: reach(u) for u in nodes}
    want = {u: min(v for v in nodes if v in R[u] and u in R[v]) for u in nodes}

    e = spark.createDataFrame(pairs, "src string, dst string")
    # every round assigns at least one of the <= 7 vertices, so the
    # production round bound is never the limit here
    got = {r["id"]: r["scc"] for r in strongly_connected_components(e).collect()}
    assert got == want, (pairs, got, want)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.text("abcde", min_size=1, max_size=4)),
        min_size=1,
        max_size=40,
    ),
    probe_idx=st.integers(0, 39),
)
def test_bloom_never_false_negative(spark, tmp_path_factory, rows, probe_idx):
    """A Bloom filter may keep a bucket spuriously but must NEVER skip a
    bucket that holds the probe value — scan(point) equals the plain
    filtered read on arbitrary data."""
    from pyspark.sql import functions as F

    from graph_db_spark.writers.snapshots import SnapshotTable

    path = str(tmp_path_factory.mktemp("bloomprop") / "t")
    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id int, k int, name string"
    )
    t = SnapshotTable.create(spark, path, df, ["id"], n_buckets=4, bloom_on=["name"])
    probe = rows[probe_idx % len(rows)][1]
    got = sorted(r["id"] for r in t.scan({"name": (probe, probe)}).collect())
    want = sorted(r["id"] for r in t.read().filter(F.col("name") == probe).collect())
    assert got == want and got  # non-empty: the probe value exists


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    ref=st.lists(st.integers(0, 8), min_size=1, max_size=15),
    cur=st.lists(st.integers(0, 8), min_size=1, max_size=15),
)
def test_mannwhitney_midrank_u_equals_pairwise_bruteforce(spark, ref, cur):
    """U from the distinct-value midrank formula equals the definition:
    #(ref > cur) pairs + half the ties — on arbitrary tied integer data."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(v, 1) for v in ref] + [(v, 0) for v in cur]
    df = spark.createDataFrame(rows, "value int, is_ref int")
    pv = df.groupBy("value").agg(
        F.sum("is_ref").alias("nr"), F.sum(1 - F.col("is_ref")).alias("nc")
    )
    w = Window.orderBy("value")
    t = F.col("nr") + F.col("nc")
    rk = pv.select("nr", t.alias("t"), (F.sum(t).over(w) - t).alias("below"))
    r1 = rk.agg(
        F.sum(F.col("nr") * (F.col("below") + (F.col("t") + 1) / 2.0))
    ).collect()[0][0]
    n1 = len(ref)
    u_formula = r1 - n1 * (n1 + 1) / 2.0
    u_brute = sum(
        1.0 if a > b else (0.5 if a == b else 0.0) for a in ref for b in cur
    )
    assert abs(u_formula - u_brute) < 1e-9


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)), min_size=3, max_size=25
    )
)
def test_spearman_midranks_equal_python_ranks(spark, pairs):
    """The distinct-value cumsum midranks equal a pure-Python midrank
    assignment (sorted positions averaged per tie group)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def py_midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        r = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mid = (i + 1 + j) / 2.0
            for k2 in range(i, j):
                r[order[k2]] = mid
            i = j
        return r

    df = spark.createDataFrame(
        [(i, a) for i, (a, _) in enumerate(pairs)], "rid int, q int"
    )
    g = df.groupBy("q").agg(F.count(F.lit(1)).alias("t"))
    w = Window.orderBy("q")
    ranks = g.select(
        "q",
        (F.sum("t").over(w) - F.col("t") + (F.col("t") + 1) / 2.0).alias("r"),
    )
    got = {
        r["rid"]: r["r"]
        for r in df.join(ranks, on="q").select("rid", "r").collect()
    }
    want = py_midranks([a for a, _ in pairs])
    assert all(abs(got[i] - want[i]) < 1e-9 for i in range(len(pairs)))
