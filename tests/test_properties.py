"""Property-based tests (hypothesis) — a superset of the reference's test
strategy (SURVEY section 5: the reference has no property testing).

Strategy sizes are kept small: each example pays a Spark job, so we want
dozens of examples, not thousands.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.dedup import (
    distinct_on,
    distinct_on_agg,
)
from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.merge import (
    append_if_absent,
    upsert_by_key,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),    # key (collisions likely)
        st.integers(min_value=0, max_value=9),    # order col
        st.integers(min_value=0, max_value=99),   # payload / tiebreak
    ),
    min_size=1,
    max_size=20,
)


@settings(**SETTINGS)
@given(rows=rows_strategy)
def test_distinct_on_window_and_agg_agree(spark, rows):
    """With a TOTAL order, the ranking-window and min_by implementations of
    DISTINCT ON must pick identical survivors."""
    df = spark.createDataFrame(rows, "k int, o int, p int").distinct()
    order = [F.col("o"), F.col("p")]
    a = sorted(map(tuple, distinct_on(df, ["k"], order).collect()))
    b = sorted(map(tuple, distinct_on_agg(df, ["k"], order).collect()))
    assert a == b
    keys = {t[0] for t in a}
    assert len(a) == len(keys)  # exactly one survivor per key


@settings(**SETTINGS)
@given(rows=rows_strategy, delta_rows=rows_strategy)
def test_upsert_properties(spark, rows, delta_rows):
    """Merge invariants: delta wins on conflict, nothing is lost, idempotent."""
    target = spark.createDataFrame(rows, "k int, o int, p int") \
        .dropDuplicates(["k"])
    delta = spark.createDataFrame(delta_rows, "k int, o int, p int") \
        .dropDuplicates(["k"])
    merged = upsert_by_key(target, delta, ["k"])
    got = {r["k"]: (r["o"], r["p"]) for r in merged.collect()}
    want_delta = {r["k"]: (r["o"], r["p"]) for r in delta.collect()}
    want_target = {r["k"]: (r["o"], r["p"]) for r in target.collect()}
    assert set(got) == set(want_target) | set(want_delta)
    for k, v in want_delta.items():
        assert got[k] == v  # delta version always wins
    # idempotence
    again = upsert_by_key(merged, delta, ["k"])
    assert {r["k"]: (r["o"], r["p"]) for r in again.collect()} == got


@settings(**SETTINGS)
@given(rows=rows_strategy, delta_rows=rows_strategy)
def test_append_if_absent_properties(spark, rows, delta_rows):
    """Conflict-ignore: target rows never change; only new keys append."""
    target = spark.createDataFrame(rows, "k int, o int, p int") \
        .dropDuplicates(["k"])
    delta = spark.createDataFrame(delta_rows, "k int, o int, p int") \
        .dropDuplicates(["k"])
    out = append_if_absent(target, delta, ["k"])
    got = {r["k"]: (r["o"], r["p"]) for r in out.collect()}
    want_target = {r["k"]: (r["o"], r["p"]) for r in target.collect()}
    for k, v in want_target.items():
        assert got[k] == v  # target version always survives
    assert set(got) == set(want_target) | {r["k"] for r in delta.collect()}


pack_docs_strategy = st.lists(
    st.text(alphabet="ab \t", min_size=0, max_size=30),  # whitespace-heavy
    min_size=1,
    max_size=15,
)


@settings(**SETTINGS)
@given(texts=pack_docs_strategy, budget=st.integers(min_value=1, max_value=7))
def test_pack_sequences_properties(spark, texts, budget):
    """For ANY corpus and budget: segments tile each non-empty doc exactly,
    every segment fits in [1, budget], offsets stay in range, and every
    sequence except the last is filled to the budget."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.packing import (
        pack_sequences,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = pack_sequences(df, budget=budget).collect()
    tokens = {i: len(t.split()) for i, t in enumerate(texts)}
    expected_docs = {i for i, n in tokens.items() if n > 0}
    assert {r["doc_id"] for r in rows} == expected_docs
    per_doc, per_seq = {}, {}
    for r in rows:
        assert 1 <= r["seg_tokens"] <= budget
        assert 0 <= r["seg_offset"] < budget
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["seg_tokens"]
        per_seq[r["seq_id"]] = per_seq.get(r["seq_id"], 0) + r["seg_tokens"]
    assert per_doc == {i: tokens[i] for i in expected_docs}
    if per_seq:
        last = max(per_seq)
        assert set(per_seq) == set(range(last + 1))  # dense sequence ids
        assert all(v == budget for s, v in per_seq.items() if s != last)


@settings(**SETTINGS)
@given(vals=st.lists(st.integers(min_value=0, max_value=50),
                     min_size=1, max_size=25))
def test_prefix_sum_property(spark, vals):
    """_with_prefix_sum == the serial exclusive prefix sum, for any values
    (including zeros) and any partitioning."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.packing import (
        _with_prefix_sum,
    )

    df = spark.createDataFrame(list(enumerate(vals)), "k long, v long")
    got = {r["k"]: r["offset"] for r in _with_prefix_sum(df, "k", "v").collect()}
    acc = 0
    for i, v in enumerate(vals):
        assert got[i] == acc
        acc += v


@settings(**SETTINGS)
@given(vals=st.lists(st.integers(min_value=-50, max_value=50),
                     min_size=1, max_size=24))
def test_global_rank_property(spark, vals):
    """global_rank == serial ROW_NUMBER for any values (duplicates in the
    lead sort column included — the unique second column makes the order
    total) and any partitioning; n equals the row count."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.packing import (
        global_rank,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    ).repartition(4)
    ranked, n = global_rank(df, [F.col("v").desc(), F.col("k")],
                            out_col="r")
    assert n == len(vals)
    got = {r["k"]: r["r"] for r in ranked.collect()}
    expected = sorted(range(len(vals)), key=lambda i: (-vals[i], i))
    for pos, k in enumerate(expected, start=1):
        assert got[k] == pos


@settings(**SETTINGS)
@given(
    groups=st.lists(  # member count per duplicate group
        st.integers(min_value=1, max_value=4), min_size=1, max_size=5
    ),
    edges=st.lists(  # rep-level pair structure over group indices
        st.tuples(st.integers(0, 4), st.integers(0, 4)),
        max_size=6,
    ),
)
def test_expand_member_pairs_matches_bruteforce(spark, groups, edges):
    """expand_member_pairs == enumerating every id-level pair by hand:
    self markers yield each unordered member pair once, cross pairs the
    full bipartite product, always id_a < id_b."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.execution import (
        expand_member_pairs,
    )

    # group g's members are ids [100*g, 100*g + size)
    members = [(100 * g, 100 * g + j)
               for g, size in enumerate(groups) for j in range(size)]
    ng = len(groups)
    rep_pairs = set()
    for a, b in edges:
        a, b = a % ng, b % ng
        if a == b:
            if groups[a] > 1:  # self marker only for real dup groups
                rep_pairs.add((100 * a, 100 * a))
        else:
            lo, hi = min(a, b), max(a, b)
            rep_pairs.add((100 * lo, 100 * hi))
    if not rep_pairs:
        return
    rp = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sorted(rep_pairs)],
        "id_a long, id_b long, val double",
    )
    mdf = spark.createDataFrame(members, "__rep long, __member long")
    got = {(r["id_a"], r["id_b"])
           for r in expand_member_pairs(rp, mdf, ["val"]).collect()}
    expected = set()
    by_group = {}
    for rep, m in members:
        by_group.setdefault(rep, []).append(m)
    for a, b in rep_pairs:
        if a == b:
            ms = by_group[a]
            expected |= {(x, y) for i, x in enumerate(ms)
                         for y in ms[i + 1:]}
        else:
            expected |= {(min(x, y), max(x, y))
                         for x in by_group[a] for y in by_group[b]}
    assert got == expected


scd_log_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # key (collisions likely)
        st.integers(min_value=1, max_value=28),    # day of month (order/ts)
        st.sampled_from(["open", "closed"]),       # tracked 1
        st.sampled_from(["basic", "gold", None]),  # tracked 2 (with NULLs)
    ),
    min_size=1,
    max_size=16,
    unique_by=lambda r: (r[0], r[1]),  # ts must totally order each key
)


@settings(**SETTINGS)
@given(log=scd_log_strategy, split=st.integers(min_value=1, max_value=27))
def test_scd2_incremental_apply_equals_rebuild(spark, log, split):
    """For ANY changelog and ANY batch split point: applying the later
    current-state rows onto the dimension built from the earlier rows must
    equal rebuilding from the whole log — provided each key has at most one
    row after the split (scd2_apply's one-row-per-key batch contract)."""
    import datetime as dt

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.scd import (
        scd2_apply,
        scd2_from_changelog,
    )

    rows = [(k, dt.date(2024, 1, d), s, t) for k, d, s, t in log]
    early = [r for r in rows if r[1].day <= split]
    late = [r for r in rows if r[1].day > split]
    # contract: the update batch has one row per key — keep each key's last
    last = {}
    for r in sorted(late, key=lambda r: r[1]):
        last[r[0]] = r
    late = list(last.values())
    # rebuild oracle: early log + the surviving late rows
    if not early:
        return  # nothing to build the base dimension from
    schema = "k long, ts date, status string, tier string"
    dim = scd2_from_changelog(
        spark.createDataFrame(early, schema), ["k"], ["ts"],
        ["status", "tier"],
    )
    if late:
        applied = scd2_apply(
            dim, spark.createDataFrame(late, schema), ["k"],
            ["status", "tier"], "ts",
        )
    else:
        applied = dim
    rebuilt = scd2_from_changelog(
        spark.createDataFrame(early + late, schema), ["k"], ["ts"],
        ["status", "tier"],
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["k"], r["version"], r["status"], r["tier"],
         str(r["valid_from"]), str(r["valid_to"]))
        for r in df.collect()
    )
    assert canon(applied) == canon(rebuilt)


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),    # user
        st.integers(min_value=1, max_value=12),   # day
        st.integers(min_value=0, max_value=23),   # hour
    ),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(events=events_strategy)
def test_cohort_retention_matches_model(spark, events):
    """cohort_retention == the obvious per-row Python model for any event
    set: cohort = first active day, cell = distinct users at each offset."""
    import datetime as dt

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.analytics import (
        cohort_retention,
    )

    rows = [(u, dt.datetime(2024, 3, d, h)) for u, d, h in events]
    first = {}
    for u, ts in rows:
        first[u] = min(first.get(u, ts.date()), ts.date())
    sizes, cells = {}, {}
    for u, c in first.items():
        sizes[c] = sizes.get(c, 0) + 1
    for u, ts in rows:
        key = (first[u], (ts.date() - first[u]).days)
        cells.setdefault(key, set()).add(u)
    want = {
        (str(c), off): (sizes[c], len(users))
        for (c, off), users in cells.items()
    }
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort_day"]), r["day_offset"]): (r["cohort_size"], r["n_active"])
        for r in cohort_retention(df).collect()
    }
    assert got == want


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(edges=edges_strategy)
def test_connected_components_match_union_find(spark, edges):
    """Star-contraction labels must equal a driver-side union-find model on
    ANY edge list (self-loops, duplicates, both orientations included)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    want = {n: find(n) for n in nodes}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_long_chain_log_rounds(spark):
    """A 64-node path needs 63 min-label rounds but must converge well
    inside max_iter=10 under star contraction (O(log n) bound)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(df, max_iter=10, strict=True).collect()}
    assert got == {i: 0 for i in range(64)}


def test_connected_components_plan_size_is_round_independent(spark):
    """Each contraction round reads its input four times, so a lineage
    that is not cut every round multiplies the plan per round and a long
    chain exhausts the JVM heap in the optimizer.  With one checkpoint
    per round, the output plan of a 24-node chain is as large as that of
    a 4-node chain, although it needs more rounds."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        connected_components,
    )

    def plan_lines(n: int) -> int:
        df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                   "id_a long, id_b long")
        out = connected_components(df, max_iter=10, strict=True)
        return len(out._jdf.queryExecution().optimizedPlan()
                   .treeString().splitlines())

    assert plan_lines(24) == plan_lines(4)


def test_connected_components_multi_parent_star(spark):
    """A child with two parents ((7,1),(7,2)) is chain-free but NOT a
    fixpoint: 1 and 2 are connected through 7 and must share label 1."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.graph import (
        connected_components,
    )

    df = spark.createDataFrame([(7, 1), (7, 2)], "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(df, strict=True).collect()}
    assert got == {1: 1, 2: 1, 7: 1}


@settings(**SETTINGS)
@given(texts=pack_docs_strategy,
       chunk=st.integers(min_value=2, max_value=8),
       overlap=st.integers(min_value=0, max_value=6))
def test_chunk_documents_properties(spark, texts, chunk, overlap):
    """For ANY corpus and any valid (chunk, overlap): chunk 0 starts at 0,
    starts advance by exactly chunk-overlap, every chunk is full-size
    except a clipped last, and the windows cover every token index."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        chunk_documents,
    )

    if overlap >= chunk:
        return  # invalid combination (rejected by the operator)
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    tokens = {i: len(t.split()) for i, t in enumerate(texts)}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {i for i, n in tokens.items() if n > 0}
    step = chunk - overlap
    for doc, chunks in by_doc.items():
        n = tokens[doc]
        chunks.sort(key=lambda r: r["chunk_id"])
        covered = set()
        for j, r in enumerate(chunks):
            assert r["chunk_id"] == j
            assert r["start_tok"] == j * step
            want_len = min(chunk, n - j * step)
            assert r["n_chunk_tokens"] == want_len
            assert len(r["chunk_text"].split()) == want_len
            covered |= set(range(r["start_tok"],
                                 r["start_tok"] + r["n_chunk_tokens"]))
        assert covered == set(range(n))


# --- multiplicity-collapsed pair engines vs brute force ---------------------

_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
_text = st.lists(_word, min_size=0, max_size=8).map(" ".join)
_corpus = st.lists(_text, min_size=1, max_size=12)


def _brute_jaccard_pairs(texts, k, t):
    def sh(s):
        toks = s.split() if s.strip() else []
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    sets = {i: sh(s) for i, s in enumerate(texts)}
    out = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= t:
                    out[(a, b)] = j
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=_corpus)
def test_ngram_pairs_collapse_matches_bruteforce(spark, texts):
    """The multiplicity-collapsed PPJoin engine equals the brute-force
    all-pairs Jaccard on corpora drawn from a tiny vocabulary — a regime
    dense in verbatim copies, shared prefixes, and shingle-less (short)
    documents, the exact edge cases the collapse/expansion must survive.
    With even ids as the batch and odd ids as the corpus, the
    cross-corpus engine and the persisted-index probe equal the brute
    force's cross pairs, and every MinHash-LSH pair is a brute-force
    pair with the same Jaccard."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.dedup import (
        NGRAM_INDEX_TABLES,
        build_ngram_index,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_vs,
        probe_ngram_index,
    )
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.layout import (
        drop_table_and_location,
    )

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, k=2, threshold=0.5).collect()}
    want = _brute_jaccard_pairs(texts, 2, 0.5)
    assert got == want

    mh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in minhash_lsh_pairs(
        df, k=2, num_hashes=12, bands=4, threshold=0.5).collect()}
    assert all(want.get(p) == j for p, j in mh.items())

    new = df.filter(F.col("doc_id") % 2 == 0)
    corpus = df.filter(F.col("doc_id") % 2 == 1)
    want_cross = {((a, b) if a % 2 == 0 else (b, a)): j
                  for (a, b), j in want.items() if a % 2 != b % 2}

    def cross(pairs):
        return {(r["new_id"], r["corpus_id"]): r["jaccard"]
                for r in pairs.collect()}

    assert cross(ngram_jaccard_pairs_vs(new, corpus, k=2,
                                        threshold=0.5)) == want_cross
    try:
        build_ngram_index(corpus, "prop_ngram_idx", k=2, threshold=0.5)
        assert cross(probe_ngram_index(new, "prop_ngram_idx", k=2,
                                       threshold=0.5)) == want_cross
    finally:
        for t in NGRAM_INDEX_TABLES:
            drop_table_and_location(spark, f"prop_ngram_idx_{t}")


privacy_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),     # user_id (collisions)
        st.sampled_from(["a", "b", "c"]),          # sensitive action
        st.integers(min_value=0, max_value=59),    # value
    ),
    min_size=1,
    max_size=25,
)


@settings(**SETTINGS)
@given(rows=privacy_rows)
def test_privacy_gates_match_bruteforce(spark, rows):
    """k-anonymity and l-diversity violations equal a brute-force python
    recompute on arbitrary small inputs: the flagged QI set is exactly
    {bucket : |users| < K} / {bucket : |sensitive values| < L}, and the
    per-group counts are exact."""
    from collections import defaultdict

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.privacy import (
        k_anonymity_violations,
        l_diversity_violations,
    )

    K, L = 3, 2
    df = spark.createDataFrame(
        rows, "user_id long, action string, value long")
    qi = [(F.col("value") / 10).cast("int").alias("bucket")]

    users, actions, nrows = (defaultdict(set), defaultdict(set),
                             defaultdict(int))
    for u, a, v in rows:
        b = v // 10
        users[b].add(u); actions[b].add(a); nrows[b] += 1

    got_k = {r["bucket"]: (r["n_rows"], r["n_users"])
             for r in k_anonymity_violations(df, qi, "user_id", k=K).collect()}
    want_k = {b: (nrows[b], len(users[b]))
              for b in users if len(users[b]) < K}
    assert got_k == want_k

    got_l = {r["bucket"]: (r["n_rows"], r["n_users"], r["n_sensitive"])
             for r in l_diversity_violations(
                 df, qi, sensitive_col="action", user_col="user_id",
                 l=L).collect()}
    want_l = {b: (nrows[b], len(users[b]), len(actions[b]))
              for b in actions if len(actions[b]) < L}
    assert got_l == want_l


vec_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),            # id (dups pruned)
        st.lists(st.integers(min_value=-3, max_value=3),   # small ints ->
                 min_size=3, max_size=3),                  # exact floats,
    ),                                                     # many dist ties
    min_size=1,
    max_size=12,
)


@settings(**SETTINGS)
@given(rows=vec_rows_strategy, k=st.integers(min_value=1, max_value=4))
def test_kcenter_select_matches_reference(spark, rows, k):
    """Greedy k-center must replay the driver-side reference exactly:
    same trajectory (min-id seed, farthest-point argmax, min-id ties),
    same bit-exact radii, every id picked at most once even when many
    vectors are verbatim duplicates (distance-0 ties everywhere)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        kcenter_select,
    )

    from test_extensions import _kcenter_reference

    uniq = {i: [float(x) for x in v] for i, v in rows}
    df = spark.createDataFrame(
        [(i, v) for i, v in uniq.items()],
        "vec_id long, embedding array<float>")
    got = [(r["sel_rank"], r["vec_id"], r["min_dist_sq"])
           for r in kcenter_select(df, k=k).orderBy("sel_rank").collect()]
    want = _kcenter_reference(uniq, k)
    assert got == want
    assert len({g[1] for g in got}) == len(got)  # no id re-selected


@settings(**SETTINGS)
@given(rows=vec_rows_strategy)
def test_embedding_covariance_matches_bruteforce(spark, rows):
    """Covariance sufficient statistics are exact integers and the cov
    double replays the reference chain bit-for-bit — including n=1
    groups (cov exactly 0.0) and all-negative coordinates."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        embedding_covariance,
    )

    uniq = {i: [float(x) for x in v] for i, v in rows}
    df = spark.createDataFrame(
        [(i, v) for i, v in uniq.items()],
        "vec_id long, embedding array<float>")
    got = {(r["dim_i"], r["dim_j"]): r
           for r in embedding_covariance(df).collect()}
    n = len(uniq)
    assert len(got) == 6  # upper triangle of 3x3
    vs = list(uniq.values())
    import math

    for i in range(3):
        for j in range(i, 3):
            u_i = [math.floor(v[i] * 1e6 + 0.5) for v in vs]
            u_j = [math.floor(v[j] * 1e6 + 0.5) for v in vs]
            si, sj = sum(u_i), sum(u_j)
            sij = sum(a * b for a, b in zip(u_i, u_j))
            r = got[(i, j)]
            assert (r["n_vecs"], r["s_i"], r["s_j"], r["s_ij"]) == (
                n, si, sj, sij)
            want = (sij / float(n)
                    - (si / float(n)) * (sj / float(n))) / 1e12
            assert r["cov"] == want
            if n == 1:
                assert r["cov"] == 0.0


# --- DSIR importance weights vs driver-side reference ---------------------

_dsir_docs = st.lists(
    st.tuples(
        st.sampled_from(["wiki", "crawl", "books"]),
        st.lists(st.sampled_from(["a", "b", "c", "dd", "ee", "zq"]),
                 min_size=0, max_size=8),
    ),
    min_size=1, max_size=12,
)


@settings(**SETTINGS)
@given(docs=_dsir_docs, buckets=st.sampled_from([4, 16, 64]))
def test_dsir_weights_match_reference(spark, docs, buckets):
    """dsir_importance_weights == the driver-side replay (md5 buckets,
    add-one smoothing, micro-nat LLR quantized per bucket) bit-exactly,
    for any corpus/target mix and bucket count — including corpora where
    the target slice is empty."""
    import hashlib
    import math as m

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sampling import (
        dsir_importance_weights,
    )

    rows = [(i, " ".join(toks), src) for i, (src, toks) in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: (r["n_toks"], r["score_micro"])
           for r in dsir_importance_weights(
               df, F.col("source") == "wiki", buckets=buckets).collect()}

    cells = []
    for doc_id, text, src in rows:
        for t in text.split():
            b = int(hashlib.md5(f"dsir:{t}".encode()).hexdigest()[:8],
                    16) % buckets
            cells.append((doc_id, src == "wiki", b))
    cnt_all: dict[int, int] = {}
    cnt_t: dict[int, int] = {}
    for _, is_t, b in cells:
        cnt_all[b] = cnt_all.get(b, 0) + 1
        cnt_t[b] = cnt_t.get(b, 0) + (1 if is_t else 0)
    tot_all, tot_t = sum(cnt_all.values()), sum(cnt_t.values())
    lr = {
        b: m.floor(m.log(((cnt_t[b] + 1.0) * (tot_all + float(buckets)))
                         / ((cnt_all[b] + 1.0)
                            * (tot_t + float(buckets))))
                   * 1000000.0 + 0.5)
        for b in cnt_all
    }
    want: dict[int, tuple[int, int]] = {}
    for doc_id, _, b in cells:
        n, s = want.get(doc_id, (0, 0))
        want[doc_id] = (n + 1, s + lr[b])
    assert got == want


# --- Rademacher JL projection vs numpy reference --------------------------

_jl_vecs = st.lists(
    st.lists(st.floats(min_value=-8.0, max_value=8.0,
                       allow_nan=False, width=32),
             min_size=6, max_size=6),
    min_size=1, max_size=10,
)


@settings(**SETTINGS)
@given(vecs=_jl_vecs, out_dim=st.sampled_from([1, 3, 5]))
def test_rademacher_project_matches_reference(spark, vecs, out_dim):
    """rademacher_project == the numpy/hashlib replay bit-exactly for any
    float32 input and output width: quantize-to-micro-units then signed
    integer sums, signs from md5 first-hex-digit parity."""
    import hashlib
    import math as m

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        rademacher_project,
    )

    import numpy as np

    rows = [(i, [float(np.float32(x)) for x in v])
            for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["vec_id"], r["j"]): r["proj_micro"]
           for r in rademacher_project(df, out_dim=out_dim,
                                       in_dim=6).collect()}

    signs = [
        [1 if int(hashlib.md5(f"jl:{j}:{i}".encode())
                  .hexdigest()[0], 16) % 2 == 1 else -1
         for i in range(6)]
        for j in range(out_dim)
    ]
    want = {}
    for vid, v in rows:
        q = [m.floor(x * 1000000.0 + 0.5) for x in v]
        for j in range(out_dim):
            want[(vid, j)] = sum(s * qi for s, qi in zip(signs[j], q))
    assert got == want


# --- dialog assembly vs driver-side replay --------------------------------

_dialog_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # user (collisions)
        st.integers(min_value=0, max_value=4),        # ts second (ties!)
        st.sampled_from(["a", "b", "c", "d"]),        # token
    ),
    min_size=1, max_size=20,
)


@settings(**SETTINGS)
@given(events=_dialog_events, budget=st.integers(min_value=1, max_value=6))
def test_assemble_dialogs_matches_reference(spark, events, budget):
    """assemble_dialogs == the driver-side replay (sort by (ts, seq),
    truncate to budget, space-join) for any event mix, any budget, and
    heavy timestamp ties — the unique seq col must fully determine the
    assembled string."""
    from datetime import datetime

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.packing import (
        assemble_dialogs,
    )

    rows = [(i, datetime(2024, 1, 1, 0, 0, ts), u, tok)
            for i, (u, ts, tok) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r["user_id"]: (r["n_events"], r["n_kept"], r["dialog"])
           for r in assemble_dialogs(df, budget=budget,
                                     seq_col="event_id").collect()}

    by_user: dict[int, list[tuple]] = {}
    for eid, ts, u, tok in rows:
        by_user.setdefault(u, []).append((ts, eid, tok))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        kept = evs[:budget]
        want[u] = (len(evs), len(kept), " ".join(t for _, _, t in kept))
    assert got == want


# --- snapshot diff vs brute-force dict diff -------------------------------

_snap_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),               # key
        st.one_of(st.none(), st.integers(0, 3)),             # payload a
        st.one_of(st.none(), st.sampled_from(["x", "y"])),   # payload b
    ),
    min_size=0, max_size=10,
    unique_by=lambda r: r[0],
)


@settings(**SETTINGS)
@given(old_rows=_snap_rows, new_rows=_snap_rows)
def test_snapshot_diff_matches_bruteforce(spark, old_rows, new_rows):
    """snapshot_diff == the brute-force dict diff for any pair of
    snapshots, including NULL payloads on either side (NULL == NULL is
    unchanged; NULL vs value is changed)."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.operators.merge import (
        snapshot_diff,
    )

    schema = "k long, pa long, pb string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    got = {r["k"]: r["status"]
           for r in snapshot_diff(old, new, ["k"]).collect()}

    od = {r[0]: r[1:] for r in old_rows}
    nd = {r[0]: r[1:] for r in new_rows}
    want = {}
    for k in od.keys() | nd.keys():
        if k not in nd:
            want[k] = "removed"
        elif k not in od:
            want[k] = "added"
        elif od[k] != nd[k]:
            want[k] = "changed"
    assert got == want


# --- RANGE-interval window vs brute-force interval sum --------------------

_rw_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),      # supplier
        st.integers(min_value=0, max_value=20),     # day key
        st.integers(min_value=-100, max_value=100),  # day cents
    ),
    min_size=1, max_size=25,
    unique_by=lambda r: (r[0], r[1]),  # daily aggregate: one row per day
)


@settings(**SETTINGS)
@given(rows=_rw_rows)
def test_range_frame_matches_interval_bruteforce(spark, rows):
    """A RANGE BETWEEN 6 PRECEDING AND CURRENT ROW frame keyed on integer
    days == the brute-force 'sum every row of the same supplier with
    day_key in [d-6, d]' definition — including gap days (where ROWS -6
    would reach back too far) and negative values."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "supp long, day_key int, cents long")
    w = (Window.partitionBy("supp").orderBy("day_key")
         .rangeBetween(-6, Window.currentRow))
    got = {(r["supp"], r["day_key"]): (r["win"], r["n"])
           for r in df.select(
               "supp", "day_key",
               F.sum("cents").over(w).alias("win"),
               F.count(F.lit(1)).over(w).cast("int").alias("n"),
           ).collect()}
    want = {}
    for s, d, _ in rows:
        inwin = [(c) for s2, d2, c in rows
                 if s2 == s and d - 6 <= d2 <= d]
        want[(s, d)] = (sum(inwin), len(inwin))
    assert got == want


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=20),   # start day-of-month
        st.integers(min_value=0, max_value=8),    # duration days
    ),
    min_size=1,
    max_size=15,
)


@settings(**SETTINGS)
@given(intervals_strategy)
def test_interval_concurrency_matches_brute_force(spark, ivs):
    """The sweep line equals the brute-force per-day coverage count at
    every emitted day, and the emitted days include every day where the
    count CHANGES (step-function completeness)."""
    from datetime import date, timedelta

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.analytics import (
        interval_concurrency,
    )

    rows = [(date(2024, 1, s), date(2024, 1, s) + timedelta(days=d))
            for s, d in ivs]
    df = spark.createDataFrame(rows, "s date, e date")
    got = {r["day"]: r["n_open"]
           for r in interval_concurrency(df, "s", "e").collect()}

    def cover(day):
        return sum(1 for s, e in rows if s <= day <= e)

    for day, n in got.items():
        assert n == cover(day), (day, n)
    # completeness: scan the swept range; wherever the brute-force count
    # changes versus the previous day, a row must exist with that value
    lo = min(s for s, _ in rows)
    hi = max(e for _, e in rows) + timedelta(days=1)
    day, prev = lo, 0
    while day <= hi:
        c = cover(day)
        if c != prev:
            assert day in got and got[day] == c, day
        prev = c
        day += timedelta(days=1)


kmv_sets_strategy = st.tuples(
    st.sets(st.integers(min_value=0, max_value=400), min_size=1,
            max_size=60),
    st.sets(st.integers(min_value=0, max_value=400), min_size=1,
            max_size=60),
)


@settings(**SETTINGS)
@given(kmv_sets_strategy)
def test_kmv_set_ops_exact_when_k_covers_union(spark, ab):
    """Whenever k >= |A ∪ B| the sketch holds every hash and the whole
    output is EXACT set algebra — cardinalities, union, Jaccard,
    intersection."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sketches import (
        kmv_set_ops,
    )

    sa, sb = ab
    a = spark.createDataFrame([(v,) for v in sa], "v long")
    b = spark.createDataFrame([(v,) for v in sb], "v long")
    r = kmv_set_ops(a, b, "v", k=512).collect()[0]
    union, inter = sa | sb, sa & sb
    assert r["est_distinct_a"] == float(len(sa))
    assert r["est_distinct_b"] == float(len(sb))
    assert r["est_union"] == float(len(union))
    assert r["sketch_k"] == len(union)
    assert abs(r["jaccard"] - len(inter) / len(union)) < 1e-12
    assert abs(r["est_intersection"] - len(inter)) < 1e-9


events_split_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=28),   # day
        st.integers(min_value=0, max_value=40),   # user
    ),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(events_split_strategy)
def test_temporal_split_partitions_the_stream(spark, evs):
    """The three splits PARTITION the non-null rows (counts sum to the
    input) and respect the boundary order: every train ts < every
    embargo ts < every test ts is impossible to violate because the
    cuts are half-open >= thresholds on a shared anchor."""
    from datetime import datetime

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.sampling import (
        temporal_split,
    )

    rows = [(u, datetime(2024, 1, d)) for d, u in evs]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = temporal_split(df, "ts", "user_id",
                         test_days=7, embargo_days=2).collect()
    assert sum(r["n_events"] for r in out) == len(rows)
    bounds = {r["split"]: (r["min_ts"], r["max_ts"]) for r in out}
    if "train" in bounds and "embargo" in bounds:
        assert bounds["train"][1] < bounds["embargo"][0]
    if "embargo" in bounds and "test" in bounds:
        assert bounds["embargo"][1] < bounds["test"][0]
    if "train" in bounds and "test" in bounds:
        assert bounds["train"][1] < bounds["test"][0]


@settings(**SETTINGS)
@given(rows=st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),    # group (few, big)
              st.integers(min_value=-50, max_value=50)),  # value
    min_size=1, max_size=24))
def test_grouped_global_rank_matches_serial_model(spark, rows):
    """grouped_global_rank == serial per-group ROW_NUMBER for any values
    and any physical partitioning; the totals map and the emitted n_col
    both equal the group sizes."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.packing import (
        grouped_global_rank,
    )

    data = [(f"g{g}", i, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, k long, v long") \
        .repartition(4)
    ranked, totals = grouped_global_rank(
        df, "g", [F.col("v").asc(), F.col("k").asc()],
        out_col="r", n_col="gn")
    got = {r["k"]: (r["g"], r["r"], r["gn"]) for r in ranked.collect()}
    assert len(got) == len(data)
    by_g: dict = {}
    for g, k, v in data:
        by_g.setdefault(g, []).append((v, k))
    assert totals == {g: len(m) for g, m in by_g.items()}
    for g, members in by_g.items():
        for pos, (v, k) in enumerate(sorted(members), start=1):
            assert got[k] == (g, pos, len(members))


@settings(**SETTINGS)
@given(units=st.lists(st.integers(min_value=0, max_value=1000),
                      min_size=1, max_size=20))
def test_gini_bounds_and_model(spark, units):
    """gini_concentration stays in [0, 1) and matches the serial sort
    identity; all-zero totals yield NULL."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.analytics import (
        gini_concentration,
    )

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(units)], "id long, units long"
    ).repartition(3)
    r = gini_concentration(df, "units", "id").collect()[0]
    assert r["n_entities"] == len(units)
    s0 = sum(units)
    if s0 == 0:
        assert r["gini"] is None
        return
    xs = sorted(units)
    n = len(xs)
    s1 = sum(rk * x for rk, x in enumerate(xs, start=1))
    want = (2.0 * s1 - (n + 1.0) * s0) / (float(n) * s0)
    assert r["gini"] == want  # exact: integer sums, one IEEE chain
    assert 0.0 <= r["gini"] < 1.0


@settings(**SETTINGS)
@given(counts=st.lists(st.integers(min_value=1, max_value=500),
                       min_size=1, max_size=15))
def test_entropy_bounds(spark, counts):
    """entropy_from_counts lands in [0, ln(k)] (micro-quantization slack)
    and matches the serial identity to micro precision."""
    import math

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.analytics import (
        entropy_from_counts,
    )

    df = spark.createDataFrame(
        [("g", f"c{i}", c) for i, c in enumerate(counts)],
        "g string, cat string, c long")
    r = entropy_from_counts(df, "g", "c").collect()[0]
    n = sum(counts)
    want = math.log(n) - sum(c * math.log(c) for c in counts) / n
    assert r["n_obs"] == n and r["n_categories"] == len(counts)
    assert abs(r["entropy"] - want) < 2e-5
    assert -1e-5 <= r["entropy"] <= math.log(len(counts)) + 1e-5


@settings(**SETTINGS)
@given(vals=st.lists(st.floats(min_value=-100, max_value=100,
                               allow_nan=False, width=32),
                     min_size=1, max_size=20),
       lo=st.integers(min_value=0, max_value=4))
def test_winsorized_mean_bounds(spark, vals, lo):
    """The winsorized mean always lies within [p_lo, p_hi] (up to the
    1e-4 quantization unit) and equals the raw mean when nothing clips."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.analytics import (
        winsorized_mean,
    )

    q_lo, q_hi = lo / 10.0, 1.0 - lo / 10.0
    df = spark.createDataFrame([("g", float(v)) for v in vals],
                               "g string, v double")
    r = winsorized_mean(df, "g", "v", lo=q_lo, hi=q_hi).collect()[0]
    assert r["n_items"] == len(vals)
    assert r["p_lo"] - 1e-4 <= r["win_mean"] <= r["p_hi"] + 1e-4
    if lo == 0:  # p0/p100 clip nothing
        assert abs(r["win_mean"] - r["raw_mean"]) < 1e-9


ranking_lists_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),   # query id (collisions)
        st.integers(min_value=0, max_value=15),  # item id
    ),
    min_size=1, max_size=30,
)


@settings(**SETTINGS)
@given(pairs=ranking_lists_strategy, k=st.integers(min_value=1, max_value=5))
def test_ranking_metrics_properties(spark, pairs, k):
    """Invariants of similarity.ranking_metrics against a python model:
    identical rankings score perfect 1.0 everywhere; every metric sits in
    [0, 1]; recall/MRR/nDCG match a brute-force recomputation from the
    same shared integer discount tables."""
    import itertools

    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.similarity import (
        cum_idcg_micro,
        inv_log2_micro,
        ranking_metrics,
    )

    # deterministic per-query ranked lists from the drawn pairs
    by_q: dict[int, list[int]] = {}
    for q, i in sorted(set(pairs)):
        by_q.setdefault(q, []).append(i)
    exact_rows = [(q, str(i), r + 1)
                  for q, items in by_q.items()
                  for r, i in enumerate(items[:k])]
    # approx = the exact list REVERSED then truncated (worst head order)
    approx_rows = [(q, str(i), r + 1)
                   for q, items in by_q.items()
                   for r, i in enumerate(list(reversed(items))[:k])]
    exact = spark.createDataFrame(exact_rows,
                                  "query_id int, vec_id string, rank int")
    approx = spark.createDataFrame(approx_rows,
                                   "query_id int, vec_id string, rank int")

    # perfect self-ranking scores 1.0 on every metric
    for r in ranking_metrics(exact, exact, k=k).collect():
        assert r["recall_at_k"] == 1.0
        assert r["mrr_at_k"] == 1.0
        assert r["ndcg_at_k"] == 1.0
        assert r["dcg_micro"] == r["idcg_micro"]

    inv, cum = inv_log2_micro(k), cum_idcg_micro(k)
    exact_rank = {(q, str(i)): r + 1
                  for q, items in by_q.items()
                  for r, i in enumerate(items[:k])}
    for r in ranking_metrics(exact, approx, k=k).collect():
        q = r["query_id"]
        n_exact = len(by_q[q][:k])
        model_dcg, first, hits = 0, 0, 0
        for pos, i in enumerate(list(reversed(by_q[q]))[:k], 1):
            er = exact_rank.get((q, str(i)))
            if er is not None:
                hits += 1
                model_dcg += (k + 1 - er) * inv[pos - 1]
                first = first or pos
        assert r["n_exact"] == n_exact
        assert r["n_hits"] == hits
        assert r["dcg_micro"] == model_dcg
        assert r["idcg_micro"] == cum[min(n_exact, k) - 1]
        assert r["first_hit_rank"] == first
        assert r["recall_at_k"] == hits / n_exact
        assert r["mrr_at_k"] == (1.0 / first if first else 0.0)
        assert 0.0 <= r["ndcg_at_k"] <= 1.0


qnorm_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # group (collisions)
        st.integers(min_value=-50, max_value=50),  # value (ties likely)
    ),
    min_size=1, max_size=25,
)


@settings(**SETTINGS)
@given(rows=qnorm_rows_strategy)
def test_quantile_normalize_properties(spark, rows):
    """Invariants of analytics.quantile_normalize against a python model:
    exact type-1 inverse-CDF output per row, rank-monotone within each
    group, and the normalized column is always drawn from the global
    value multiset."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.analytics import (
        quantile_normalize,
    )

    data = [(i, f"g{g}", v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id int, source string, val int")
    out = quantile_normalize(df, "source", "val", "doc_id").collect()
    assert len(out) == len(data)

    glob = sorted((v, i) for i, _, v in data)
    n = len(glob)
    by_group: dict[str, list[tuple[int, int]]] = {}
    for i, g, v in data:
        by_group.setdefault(g, []).append((v, i))
    model = {}
    for g, items in by_group.items():
        items.sort()
        ng = len(items)
        for r0, (v, i) in enumerate(items, 1):
            idx = (r0 * n + ng - 1) // ng
            model[i] = (r0, idx, glob[idx - 1][0])
    for r in out:
        assert (r["src_rank"], r["global_idx"],
                r["normalized_value"]) == model[r["doc_id"]]


docs_words_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # group
        st.lists(st.sampled_from("ab"), min_size=0, max_size=6),  # words
    ),
    min_size=1, max_size=12,
)


@settings(**SETTINGS)
@given(docs=docs_words_strategy)
def test_distinct_ngrams_matches_model(spark, docs):
    """distinct_ngrams against a python model over tiny random corpora:
    integer counts exact, ratios the one division, blank docs counted
    into totals as zero."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        distinct_ngrams,
    )

    data = [(f"g{g}", " ".join(ws)) for g, ws in docs]
    df = spark.createDataFrame(data, "source string, text string")
    out = {r["source"]: r for r in distinct_ngrams(df).collect()}

    model: dict[str, dict] = {}
    for g, ws in docs:
        m = model.setdefault(f"g{g}", {"nt": 0, "nb": 0,
                                       "ut": set(), "ub": set()})
        m["nt"] += len(ws)
        m["nb"] += max(len(ws) - 1, 0)
        m["ut"].update(ws)
        m["ub"].update(f"{a} {b}" for a, b in zip(ws, ws[1:]))
    assert set(out) == set(model)
    for g, m in model.items():
        r = out[g]
        assert (r["n_tokens"], r["n_distinct_tokens"]) == (m["nt"], len(m["ut"]))
        assert (r["n_bigrams"], r["n_distinct_bigrams"]) == (m["nb"], len(m["ub"]))
        if m["nt"]:
            assert r["distinct_1"] == len(m["ut"]) / m["nt"]
        else:
            assert r["distinct_1"] is None
        if m["nb"]:
            assert r["distinct_2"] == len(m["ub"]) / m["nb"]
        else:
            assert r["distinct_2"] is None


# --- the one Python tokenizer vs the JVM's tokens() -------------------------

_WS_MIX = " \t\n\x0b\f\r" + "\u00a0\u2003\u001c" + "ab"
_ws_texts = st.lists(
    st.one_of(st.none(), st.text(alphabet=st.sampled_from(_WS_MIX),
                                 max_size=12)),
    min_size=1, max_size=8,
)


@settings(**SETTINGS)
@given(texts=_ws_texts)
def test_gram_views_match_jvm_tokens(spark, texts):
    """Both word-gram views split exactly as the JVM's ``tokens()``: over
    every Java-``\\s`` char and the unicode spaces (U+00A0, U+2003) and
    separator (U+001C) Java's ``\\s`` does NOT match, for k in 1..3, the
    set view is each document's distinct grams (no row below k tokens)
    and the positional view every gram with its 0-based start."""
    from nyc_taxi_2024_airflow_dbt_docker_great_expectations_spark.extensions.text import (
        _WS_CHARS,
        positional_shingles,
        shingled_arrays,
        tokens,
    )

    assert set(_WS_CHARS) <= set(_WS_MIX)
    texts = texts + [None, "", _WS_CHARS]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    jvm = {r["doc_id"]: r["t"] for r in
           df.select("doc_id", tokens("text").alias("t")).collect()}
    for k in (1, 2, 3):
        model = {i: [" ".join(t[j:j + k]) for j in range(len(t) - k + 1)]
                 for i, t in jvm.items() if t is not None}
        sets = {r["doc_id"]: r["shingles"]
                for r in shingled_arrays(df, k=k).collect()}
        assert {i: sorted(s) for i, s in sets.items()} == {
            i: sorted(set(g)) for i, g in model.items() if g}
        assert all(len(s) == len(set(s)) for s in sets.values())
        got = sorted(tuple(r) for r in positional_shingles(df, k=k).collect())
        assert got == sorted((i, p, g) for i, gs in model.items()
                             for p, g in enumerate(gs))
