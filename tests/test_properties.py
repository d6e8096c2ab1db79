"""Property-based tests (SURVEY.md §5.4): invariants of the spike
semantics over randomized histogram tables.

Hypothesis drives the row generator; each property is checked against
the real DataFrame pipeline on a shared local session. Sizes are kept
small (Spark job per example is the cost), with `max_examples` tuned
so the suite stays in CI budget.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hha_spark.config import DetectorParams
from hha_spark.functions.ip import net24_base
from hha_spark.operators.spike import detect_spikes
from hha_spark.schemas import HISTOGRAM_SCHEMA

NOW = 1_700_000_000
P = DetectorParams()

keys = st.tuples(
    st.integers(min_value=1, max_value=5),        # num_protocol
    st.sampled_from([11, 31, 32, 41, 42]),        # type_proto
    st.integers(min_value=174327296, max_value=174327296 + 1023),  # dst_ip (4 /24s)
)

# (key, cur_avg or None, prev_avg or None)
key_specs = st.lists(
    st.tuples(
        keys,
        st.one_of(st.none(), st.integers(min_value=0, max_value=20_000)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=20_000)),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda s: s[0],
)


def build_rows(specs):
    rows = []
    for (np_, tp, ip), cur, prev in specs:
        if cur is not None:
            rows.append((NOW - 10, 1, np_, tp, cur, ip))
        if prev is not None:
            rows.append((NOW - 400, 1, np_, tp, prev, ip))
    return rows


def run(spark, specs, params=P):
    rows = build_rows(specs)
    if not rows:
        return []
    df = spark.createDataFrame(rows, HISTOGRAM_SCHEMA)
    return detect_spikes(df, params=params, now=NOW).collect()


SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(specs=key_specs)
@SET
def test_no_alert_when_all_ratios_bounded(spark, specs):
    """If every key's cur <= Q*prev (prev present, positive) and no
    clamp can fire (prev <= Q*cur), the /32 alert set is empty."""
    bounded = [
        (k, cur, prev)
        for (k, cur, prev) in specs
        if cur is not None and prev is not None and prev > 0
        and cur <= P.quotient_amplification * prev
        and prev <= P.quotient_amplification * cur
    ]
    alerts = run(spark, bounded)
    assert [a for a in alerts if a.scope == "ip"] == []


@given(specs=key_specs)
@SET
def test_new_key_threshold_exact(spark, specs):
    """Keys with no prev data alert iff cur > Q * LimitNewData (S4);
    restrict to one key per /24 so rollup effects can't interfere."""
    new_only = [(k, cur, None) for (k, cur, _) in specs if cur is not None]
    # dedupe by /24 to isolate the /32 semantics
    seen = set()
    isolated = []
    for (np_, tp, ip), cur, _ in new_only:
        net = (np_, tp, net24_base(ip))
        if net not in seen:
            seen.add(net)
            isolated.append(((np_, tp, ip), cur, None))
    alerts = run(spark, isolated)
    got = {(a.num_protocol, a.type_proto, a.dst_ip) for a in alerts if a.scope == "ip"}
    expected = {
        k
        for (k, cur, _) in isolated
        if cur / P.limit_new_data > P.quotient_amplification
    }
    assert got == expected


@given(specs=key_specs, q2=st.integers(min_value=4, max_value=10))
@SET
def test_alert_set_monotone_in_q(spark, specs, q2):
    """Raising Q can only shrink the /32 alert set (for keys where no
    clamp interplay flips: restrict to prev <= LimitNewData so the
    guarded clamp never fires)."""
    safe = [
        (k, cur, prev)
        for (k, cur, prev) in specs
        if cur is not None and (prev is None or prev <= P.limit_new_data)
    ]
    loose = {
        (a.num_protocol, a.type_proto, a.dst_ip)
        for a in run(spark, safe, P)
        if a.scope == "ip"
    }
    import dataclasses

    tight = {
        (a.num_protocol, a.type_proto, a.dst_ip)
        for a in run(spark, safe, dataclasses.replace(P, quotient_amplification=q2))
        if a.scope == "ip"
    }
    assert tight <= loose


@given(specs=key_specs)
@SET
def test_net_alert_implies_member_activity(spark, specs):
    """Every /24 alert's network must contain at least one member /32
    with current-window rows (the rollup is derived from cur keys)."""
    alerts = run(spark, specs)
    cur_nets = {
        (np_, tp, net24_base(ip))
        for (np_, tp, ip), cur, _ in specs
        if cur is not None
    }
    for a in alerts:
        if a.scope == "net":
            assert (a.num_protocol, a.type_proto, a.dst_ip) in cur_nets


# --- round-4 curation operators ---------------------------------------------

doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e"]), min_size=3, max_size=12
    ).map(lambda toks: " ".join(toks)),
    min_size=2,
    max_size=8,
)


@given(texts=doc_texts, pct=st.sampled_from([1, 40, 80]))
@SET
def test_boilerplate_matches_bruteforce(spark, texts, pct):
    """boilerplate_coverage == a direct Python reimplementation:
    grams with df*100 >= n_docs*pct cover positions [i, i+2]; covered
    positions counted once per doc."""
    from hha_spark.operators.corpus import boilerplate_coverage

    k = 3
    docs = [(i, t) for i, t in enumerate(texts)]
    # brute force
    df_count: dict[tuple, set] = {}
    for i, t in docs:
        toks = t.split(" ")
        for p in range(len(toks) - k + 1):
            df_count.setdefault(tuple(toks[p:p + k]), set()).add(i)
    boiler = {g for g, d in df_count.items() if len(d) * 100 >= len(docs) * pct}
    expected = {}
    for i, t in docs:
        toks = t.split(" ")
        covered = set()
        for p in range(len(toks) - k + 1):
            if tuple(toks[p:p + k]) in boiler:
                covered.update(range(p, p + k))
        expected[i] = (len(toks), len(covered))

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens)
        for r in boilerplate_coverage(sdf, k=k, min_docs_pct=pct).collect()
    }
    assert got == expected


vectors = st.lists(
    st.lists(
        st.integers(min_value=-1000, max_value=1000).map(lambda x: x / 500.0),
        min_size=8,
        max_size=8,
    ).filter(lambda v: any(abs(x) >= 0.002 for x in v)),  # no zero vectors:
    # cosine is NULL there by the nullif guard, outside this oracle
    min_size=2,
    max_size=10,
)


@given(vecs=vectors)
@SET
def test_semantic_prune_matches_numpy(spark, vecs):
    """semantic_prune's cosine-to-centroid ranking == a numpy
    reimplementation of the same integer quantization (micro-unit
    floor, sum-vector centroid)."""
    import math

    from hha_spark.operators.semantic import Q_COMP, semantic_prune

    rows = [(i, v) for i, v in enumerate(vecs)]
    # numpy-free exact reference (plain python ints)
    def cell_of(v):
        return sum((1 << j) * (v[j] >= 0) for j in range(4))

    q = {i: [math.floor(x * Q_COMP) for x in v] for i, v in rows}
    cells: dict[int, list[int]] = {}
    for i, v in rows:
        cells.setdefault(cell_of(v), []).append(i)
    expected_rank = {}
    for cell, members in cells.items():
        cent = [sum(q[i][d] for i in members) for d in range(8)]
        cn = math.sqrt(float(sum(c * c for c in cent)))
        scored = []
        for i in members:
            dot = float(sum(a * b for a, b in zip(q[i], cent)))
            vn = math.sqrt(float(sum(a * a for a in q[i])))
            scored.append((-(dot / (vn * cn)), i))
        scored.sort()
        for rank, (_, i) in enumerate(scored, start=1):
            expected_rank[i] = (cell, rank, len(members))

    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cell, r.cell_rank, r.n_cell)
        for r in semantic_prune(sdf).collect()
    }
    assert got == expected_rank


# --- sketch operators (operators/sketch.py) --------------------------------

token_lists = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x24F
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(toks=token_lists)
def test_cms_never_undercounts_any_input(spark, toks):
    """CMS estimate >= exact count for EVERY token, on arbitrary
    (unicode) token multisets — the one-sided error guarantee."""
    from collections import Counter

    import pyspark.sql.functions as F

    from hha_spark.operators.sketch import cms_counters, cms_estimates

    df = spark.createDataFrame([(t,) for t in toks], "token string")
    counters = cms_counters(df, depth=2, width=8)  # tiny: force collisions
    est = {
        r.token: r.est
        for r in cms_estimates(df.distinct(), counters, depth=2, width=8)
        .collect()
    }
    truth = Counter(toks)
    assert set(est) == set(truth)
    assert all(est[t] >= truth[t] for t in truth)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    members=st.sets(st.integers(min_value=0, max_value=10_000), max_size=20),
    probes=st.sets(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30
    ),
)
def test_bloom_never_false_negative_any_input(spark, members, probes):
    from hha_spark.operators.sketch import bloom_bits, bloom_probe

    mdf = spark.createDataFrame([(m,) for m in members] or [(None,)], "k long")
    mdf = mdf.where("k IS NOT NULL")
    pdf = spark.createDataFrame([(p,) for p in probes], "k long")
    bits = bloom_bits(mdf, key_col="k", m=64, k=3)  # tiny: force FPs
    got = {
        r.key: r["pass"]
        for r in bloom_probe(pdf, bits, key_col="k", m=64, k=3).collect()
    }
    assert set(got) == probes
    for p in probes & members:
        assert got[p], f"false negative for member {p}"


# --- scoring-tier invariants (queries/scoring.py operators) ---------------

doc_corpora = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "eee"]),
        min_size=1, max_size=8,
    ),
    min_size=1, max_size=6,
)


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc_corpora)
def test_unigram_lm_invariants(spark, corpora):
    """For every document: n_tokens >= 1, min_tf <= avg_tf <= max
    possible tf, sum_tf >= n_tokens (every token occurs at least
    once), and the sum over docs of n_tokens equals the corpus token
    count — the head/tail split must lose or duplicate nothing."""
    from hha_spark.operators.text import unigram_lm_scores

    rows = [(i, "s", " ".join(toks)) for i, toks in enumerate(corpora)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # head_k=1 forces both the broadcast head AND the shuffle tail
    out = unigram_lm_scores(df, head_k=1).collect()
    assert len(out) == len(corpora)
    total = sum(len(t) for t in corpora)
    assert sum(r["n_tokens"] for r in out) == total
    for r in out:
        assert 1 <= r["min_tf"] <= r["avg_tf"] <= total
        assert r["sum_tf"] >= r["n_tokens"]
        assert r["avg_tf"] == r["sum_tf"] // r["n_tokens"]


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc_corpora, doc_corpora)
def test_divergence_bounds_and_zero_identity(spark, corp_a, corp_b):
    """L1 divergence lies in [0, 2] scaled (num <= 2*den); a source
    identical to the whole corpus (single source) is exactly 0."""
    from hha_spark.operators.text import source_token_divergence

    rows = [(i, "A", " ".join(t)) for i, t in enumerate(corp_a)] + [
        (1000 + i, "B", " ".join(t)) for i, t in enumerate(corp_b)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    for r in source_token_divergence(df).collect():
        assert 0 <= r["l1_num"] <= 2 * r["l1_den"]
    solo = spark.createDataFrame(
        [(i, "only", " ".join(t)) for i, t in enumerate(corp_a)],
        "doc_id long, source string, text string",
    )
    for r in source_token_divergence(solo).collect():
        assert r["l1_num"] == 0


# --- containment / strip-spans invariants (round-5 ops) ---------------------

doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        min_size=1, max_size=10,
    ).map(lambda ts: " ".join(ts)),
    min_size=2, max_size=6,
)


@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc_texts)
def test_containment_matches_naive_on_random_corpora(spark, texts):
    """containment_pairs (one-sided prefix filter + size bound +
    hashed candidate keys) == the naive all-ordered-pairs predicate
    on random small-vocab corpora — the lossless-filter claim under
    adversarial token overlap."""
    from hha_spark.operators.dedup import containment_pairs, with_token_set

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = with_token_set(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    got = {
        (r.doc_id_a, r.doc_id_b, r.inter_size)
        for r in containment_pairs(docs).collect()
    }
    toks = {i: set(t.split()) for i, t in rows}
    want = {
        (a, b, len(toks[a] & toks[b]))
        for a in toks for b in toks if a != b
        and 10 * len(toks[a] & toks[b]) >= 8 * len(toks[a])
    }
    assert got == want


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(doc_texts)
def test_strip_spans_matches_reference_impl(spark, texts):
    """strip_duplicate_spans == a sequential reference implementation
    (first-occurrence-wins over (doc_id, pos) order) on random
    corpora with heavy within- and cross-doc gram repetition."""
    from hha_spark.operators.corpus import strip_duplicate_spans

    k = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    # reference: count occurrences per gram, walk occurrences in
    # (doc_id, pos) order, cut every non-first duplicated window
    occ, count = [], {}
    for i, t in rows:
        ts = t.split()
        for p in range(len(ts) - k + 1):
            g = " ".join(ts[p:p + k])
            occ.append((i, p, g))
            count[g] = count.get(g, 0) + 1
    cut = {i: set() for i, _ in rows}
    seen = set()
    for i, p, g in occ:  # already in (doc_id, pos) order
        if count[g] >= 2 and g in seen:
            cut[i].update(range(p, p + k))
        seen.add(g)
    want = {
        i: " ".join(
            tok for j, tok in enumerate(t.split()) if j not in cut[i]
        )
        for i, t in rows
    }
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.clean_text
        for r in strip_duplicate_spans(docs, k=k).collect()
    }
    assert got == want


# --- token_budget_fill vs a sequential Python greedy -----------------------

doc_specs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=200),   # doc_id pool (dupes dropped)
        st.sampled_from(["a", "b", "c"]),          # source
        st.integers(min_value=1, max_value=40),    # n_tokens
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda s: s[0],
)


@given(specs=doc_specs, pct=st.integers(min_value=10, max_value=90))
@SET
def test_budget_fill_matches_sequential_greedy(spark, specs, pct):
    """The distributed window fill equals a per-source sequential
    greedy walk in salted-md5 order — keep while cum-before < target."""
    import hashlib
    import math

    from hha_spark.operators.corpus import token_budget_fill

    rows = [
        (doc_id, src, " ".join(["w"] * n)) for doc_id, src, n in specs
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = token_budget_fill(df, budget_frac_pct=pct, salt="prop").toPandas()

    # sequential reference
    total = sum(n for _, _, n in specs)
    w = {}
    per_src_tokens = {}
    for _, src, n in specs:
        per_src_tokens[src] = per_src_tokens.get(src, 0) + n
    for src, n in per_src_tokens.items():
        w[src] = math.isqrt(n)
    budget = total * pct // 100
    total_w = sum(w.values())
    targets = {src: budget * w[src] // total_w for src in w}

    expected_kept = set()
    for src in per_src_tokens:
        docs = sorted(
            (s for s in specs if s[1] == src),
            key=lambda s: (
                hashlib.md5(f"{s[0]}|prop".encode()).hexdigest(),
                s[0],
            ),
        )
        cum = 0
        for doc_id, _, n in docs:
            if cum < targets[src]:
                expected_kept.add(doc_id)
            cum += n

    got_kept = set(out[out["kept"]]["doc_id"])
    assert got_kept == expected_kept
    for _, r in out.iterrows():
        assert r["target_tokens"] == targets[r["source"]]


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=24),
        st.integers(min_value=0, max_value=24),
    ),
    min_size=0,
    max_size=60,
)


def _check_cc_against_bfs(spark, edges):
    """connected_components == a direct Python BFS closure: every node
    incident to an edge labels to the minimum id reachable from it."""
    from hha_spark.operators.cluster import connected_components

    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)],
        "doc_id_a long, doc_id_b long",
    )
    if not edges:
        df = df.where("doc_id_a < 0")  # genuinely empty frame
    got = {
        (r.node, r.label)
        for r in connected_components(df).collect()
    }
    # reference: BFS closure over the symmetric adjacency
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = set()
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = {start}, [start]
        while stack:
            u = stack.pop()
            for v in adj[u]:
                if v not in comp:
                    comp.add(v)
                    stack.append(v)
        seen |= comp
        lo = min(comp)
        expect |= {(n, lo) for n in comp}
    assert got == expect


CC_SET = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(edges=edge_lists)
@CC_SET
def test_connected_components_matches_bfs_closure(spark, edges):
    """Driver union-find path (the adaptive kernel's common case) on
    random multigraphs with self-loops and duplicate edges."""
    _check_cc_against_bfs(spark, edges)


@given(edges=edge_lists)
@CC_SET
def test_connected_components_distributed_matches_bfs_closure(
    spark, monkeypatch, edges
):
    """The same multigraphs through the distributed min-label loop,
    forced by an empty driver envelope: self-loops and duplicate
    edges reach the distributed path too."""
    from hha_spark.operators import cluster

    monkeypatch.setattr(cluster, "SMALL_GRAPH_EDGES", 0)
    _check_cc_against_bfs(spark, edges)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            # tiny alphabet + empty string: maximizes repeats, runs,
            # and bigram duplicates — adversarial for the sorted-run
            # counting in the narrow gopher rewrite
            st.sampled_from(["a", "b", "ab", "aa", ""]),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_gopher_counts_match_bruteforce(spark, texts):
    """gopher_repetition_rules (sorted-run-length HOF rewrite) == a
    direct Python Counter reimplementation on adversarial token
    streams: exact n_tokens / n_distinct / top_tok_n / n_bigrams /
    dup_bigram_n on every row, including single-token docs (no
    bigrams) and all-identical-token docs (one maximal run)."""
    from collections import Counter

    from hha_spark.operators.text import gopher_repetition_rules

    rows = [(i, t) for i, t in enumerate(texts)]
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_distinct"],
            r["top_tok_n"],
            r["n_bigrams"],
            r["dup_bigram_n"],
        )
        for r in gopher_repetition_rules(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    for i, t in rows:
        toks = t.split(" ")
        uni = Counter(toks)
        bg = Counter(
            " ".join(toks[p : p + 2]) for p in range(len(toks) - 1)
        )
        expect = (
            len(toks),
            len(uni),
            max(uni.values()),
            sum(bg.values()),
            sum(c for c in bg.values() if c >= 2),
        )
        assert got[i] == expect, (t, got[i], expect)
