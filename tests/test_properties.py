"""Property-based checks (SURVEY.md §5 item 6) where semantics are subtle:
safe division, birthday-boundary age, day-difference sign, drift-tolerant
union. Hypothesis generates the cases; Spark evaluates them in one batch per
property (one job, not one per example)."""

from __future__ import annotations

import datetime
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.functions import cleanse
from healthcare_rcm_etl_pipeline_spark.plans.standardize import union_with_drift

SET = settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

amounts = st.one_of(
    st.none(),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
)


@SET
@given(st.lists(st.tuples(amounts, amounts), min_size=1, max_size=50))
def test_safe_pct_never_errors_or_infs(spark, pairs):
    df = spark.createDataFrame(pairs, "n double, d double")
    out = [r[0] for r in df.select(cleanse.safe_pct("n", "d")).collect()]
    for (n, d), v in zip(pairs, out):
        assert v is not None  # /0 and /null coerce to 0.0, never null
        if d in (0, None) or n is None:
            assert v == 0.0
        else:
            expect = n / d * 100
            if math.isinf(expect):
                # denormal divisors overflow to inf — pandas does the same;
                # only exact-0/null divisors are coerced (reference parity)
                assert v == expect
            else:
                assert abs(v - round(expect, 2)) < 1e-6


dates = st.dates(min_value=datetime.date(1930, 1, 1), max_value=datetime.date(2025, 12, 31))


@SET
@given(st.lists(st.tuples(dates, dates), min_size=1, max_size=50))
def test_age_matches_python_birthday_rule(spark, pairs):
    df = spark.createDataFrame(pairs, "dob date, asof date")
    out = [r[0] for r in df.select(cleanse.age_years("dob", F.col("asof"))).collect()]
    for (dob, asof), got in zip(pairs, out):
        expect = asof.year - dob.year - ((asof.month, asof.day) < (dob.month, dob.day))
        assert got == expect, f"{dob} {asof}"


@SET
@given(st.lists(st.tuples(dates, dates), min_size=1, max_size=50))
def test_days_between_antisymmetric(spark, pairs):
    df = spark.createDataFrame(pairs, "a date, b date")
    rows = df.select(
        cleanse.days_between("a", "b").alias("ab"),
        cleanse.days_between("b", "a").alias("ba"),
    ).collect()
    for r, (a, b) in zip(rows, pairs):
        assert r["ab"] == -r["ba"] == (a - b).days


@SET
@given(
    st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=20),
    st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=20),
)
def test_union_with_drift_preserves_rows_and_nulls(spark, xs, ys):
    a = spark.createDataFrame([(x, f"a{x}") for x in xs], "k int, only_a string")
    b = spark.createDataFrame([(y, float(y)) for y in ys], "k int, only_b double")
    u = union_with_drift([a, b])
    assert u.count() == len(xs) + len(ys)
    assert u.filter(F.col("only_b").isNull()).count() >= len(xs)
    assert u.filter(F.col("only_a").isNull()).count() >= len(ys)


def _ntile_ref(n_rows: int, k: int) -> list[int]:
    """Reference ntile semantics (SQL standard): first n_rows mod k buckets
    get ceil(n_rows/k) rows, the rest floor(n_rows/k)."""
    small, rem = divmod(n_rows, k)
    out = []
    for b in range(1, k + 1):
        out.extend([b] * (small + 1 if b <= rem else small))
    return out


def _ntile_arith(n_rows: int, k: int) -> list[int]:
    """q21's arithmetic decile from (0-based rank, N) — must equal ntile."""
    small, rem = divmod(n_rows, k)
    cutoff = rem * (small + 1)
    out = []
    for r0 in range(n_rows):
        if small == 0:
            out.append(r0 + 1)
        elif r0 < cutoff:
            out.append(r0 // (small + 1) + 1)
        else:
            out.append(rem + (r0 - cutoff) // small + 1)
    return out


@SET
@given(n_rows=st.integers(min_value=0, max_value=5000), k=st.integers(min_value=1, max_value=20))
def test_q21_arithmetic_ntile_equals_reference(n_rows, k):
    assert _ntile_arith(n_rows, k) == _ntile_ref(n_rows, k)


# ---------------------------------------------------------------------------
# round 5: exact-substring windows and edit-1 fuzzy join
# ---------------------------------------------------------------------------

SMALL = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SMALL
@given(
    run_len=st.integers(min_value=20, max_value=30),
    pad_a=st.integers(min_value=0, max_value=8),
    pad_b=st.integers(min_value=0, max_value=8),
)
def test_planted_run_yields_exact_window_count(spark, run_len, pad_a, pad_b):
    """A shared verbatim run of L >= W tokens (disjoint vocab guarantees no
    accidental matches) produces exactly L - W + 1 shared windows."""
    from healthcare_rcm_etl_pipeline_spark.operators import dedup

    run = [f"s{i}" for i in range(run_len)]
    doc_a = [f"a{i}" for i in range(pad_a)] + run
    doc_b = run + [f"b{i}" for i in range(pad_b)]
    df = spark.createDataFrame(
        [(1, " ".join(doc_a)), (2, " ".join(doc_b))], "doc_id long, text string"
    )
    got = dedup.exact_substring_pairs(df, "text", "doc_id", window=20).collect()
    assert len(got) == 1
    assert got[0]["n_shared"] == run_len - 20 + 1


_key = st.text(alphabet="abcdef", min_size=2, max_size=8)


@SMALL
@given(s=_key, data=st.data())
def test_edit1_always_finds_a_single_edit(spark, s, data):
    """Recall is 1.0 by construction for distance <= 1: any single
    substitution/insertion/deletion of a key is always paired with it."""
    import random

    from healthcare_rcm_etl_pipeline_spark.operators import fuzzy

    rng = random.Random(data.draw(st.integers(0, 10**6)))
    kind = rng.choice(["sub", "ins", "del"])
    i = rng.randrange(len(s))
    if kind == "sub":
        t = s[:i] + rng.choice("xyz") + s[i + 1 :]
    elif kind == "ins":
        t = s[:i] + rng.choice("xyz") + s[i:]
    else:
        t = s[:i] + s[i + 1 :] if len(s) > 2 else s + "x"
    df = spark.createDataFrame([(1, s), (2, t)], "id long, key string")
    got = fuzzy.edit1_pairs(df, "key", "id").collect()
    assert len(got) == 1 and got[0]["lev"] <= 1


# ---------------------------------------------------------------------------
# round 6: edit-1 join — batched positive AND negative property
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _one_edit(rng, s: str) -> str:
    kind = rng.choice(["sub", "ins", "del"] if len(s) > 2 else ["sub", "ins"])
    i = rng.randrange(len(s))
    if kind == "sub":
        return s[:i] + rng.choice("xyz") + s[i + 1 :]
    if kind == "ins":
        return s[:i] + rng.choice("xyz") + s[i:]
    return s[:i] + s[i + 1 :]


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10**9))
def test_edit1_pairs_exact_over_random_edit_batches(spark, seed):
    """Soundness AND completeness of the symmetric-delete join, 40 random
    cases per example x 30 examples = 1200 cases: every random single-edit
    pair MUST appear (blocking is complete for lev <= 1 by construction);
    every random double-edit pair at true distance 2 MUST NOT (the exact
    levenshtein verify rejects colliding candidates). Pairs share one
    DataFrame — one Spark job per example — isolated by double-letter
    prefixes so every cross-pair distance is >= 2; the result is asserted
    EQUAL to the expected id-pair set, so a stray cross-pair (soundness
    breach) fails as loudly as a missed edit (completeness breach)."""
    import random

    from healthcare_rcm_etl_pipeline_spark.operators import fuzzy

    rng = random.Random(seed)
    rows, expected = [], set()
    for p in range(40):
        # doubled two-letter tag from g..p — an alphabet DISJOINT from the
        # key chars (a..f) and the edit chars (x,y,z), so fixing a tag
        # mismatch can never borrow characters from the suffix: any two
        # distinct tags differ in a doubled letter and every cross-pair
        # is provably at distance >= 2
        tag = chr(ord("g") + p // 10) * 2 + chr(ord("g") + p % 10) * 2
        s = "".join(rng.choice("abcdef") for _ in range(rng.randint(3, 8)))
        t = _one_edit(rng, s)
        if p % 2 == 1:  # half the cases: a second independent edit
            t = _one_edit(rng, t)
        a, b = tag + s, tag + t
        rows += [(2 * p, a), (2 * p + 1, b)]
        if _lev(a, b) <= 1:  # two edits may cancel; trust the true metric
            expected.add((2 * p, 2 * p + 1))
    df = spark.createDataFrame(rows, "id long, key string")
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy.edit1_pairs(df, "key", "id").collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Probabilistic-sketch properties: minhash estimator concentration, simhash
# structural invariances. These pin the ESTIMATOR CONTRACTS the dedup
# family's recall arguments rest on, over random inputs instead of the
# handpicked fixtures in test_dedup_similarity.py.
# ---------------------------------------------------------------------------

words = st.sampled_from([f"w{i}" for i in range(24)])
token_lists = st.lists(words, min_size=4, max_size=40)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists, token_lists)
def test_minhash_estimate_concentrates_on_exact_jaccard(spark, ta, tb):
    """mean_i [mh_i(A) == mh_i(B)] estimates J(shingles(A), shingles(B)):
    each of the k=64 component agreements is a Bernoulli(J) draw, so
    Hoeffding gives |est - J| <= sqrt(ln(2/d)/(2k)) w.p. 1-d — 0.27 at
    d=1e-4. The bound is loose but the property is sharp where it matters:
    a broken permutation family estimates ~0 for ANY pair, which this
    rejects for every high-J pair, and identical docs must estimate
    exactly 1 (every component min is equal)."""
    from healthcare_rcm_etl_pipeline_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, " ".join(ta)), (1, " ".join(tb)), (2, " ".join(ta))],
        "doc_id long, text string",
    )
    sh = {
        r["doc"]: set(r["shingles"])
        for r in dedup._shingle_arrays(df, "text", "doc_id", 3).collect()
    }
    sig = {
        r["doc"]: [r[f"mh{i}"] for i in range(64)]
        for r in dedup.minhash_signatures(df, "text", "doc_id", k=64).collect()
    }
    j = len(sh[0] & sh[1]) / len(sh[0] | sh[1])
    est = sum(a == b for a, b in zip(sig[0], sig[1])) / 64
    assert abs(est - j) <= 0.27, (est, j)
    # identical text -> identical signature -> estimate exactly 1
    assert sig[0] == sig[2]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(token_lists, st.randoms(use_true_random=False))
def test_simhash_invariant_to_order_and_duplication(spark, toks, rng):
    """Simhash is a sign-of-sums over the token MULTISET: permuting tokens
    must not change it, and doubling every token count scales each bit sum
    by 2 without flipping any sign — both must hold exactly. (These are
    the invariances that make simhash a valid near-dup sketch for
    reordered/concatenated boilerplate.)"""
    from healthcare_rcm_etl_pipeline_spark.operators import dedup

    shuffled = list(toks)
    rng.shuffle(shuffled)
    df = spark.createDataFrame(
        [
            (0, " ".join(toks)),
            (1, " ".join(shuffled)),
            (2, " ".join(toks + toks)),
        ],
        "doc_id long, text string",
    )
    got = {r["doc"]: r["simhash"] for r in dedup.simhash64(df, "text", "doc_id").collect()}
    assert got[0] == got[1], "order must not matter"
    assert got[0] == got[2], "uniform duplication must not matter"


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=30,
    )
)
def test_pagerank_matches_pure_python_integer_simulation(spark, rounds, edge_list):
    """pagerank_fixed_point's whole claim is that the iteration is exact
    integer arithmetic — so a pure-Python simulation running the IDENTICAL
    integer ops on the same graph must reproduce every rank EXACTLY, for
    arbitrary random digraphs. Catches any translation slip (wrong floor,
    wrong dangling handling, off-by-one teleport) that a tolerance-based
    check would absorb. Runs on both the driver and the Spark rounds."""
    from healthcare_rcm_etl_pipeline_spark.operators.graph import pagerank_fixed_point

    edges = sorted(set(edge_list))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_scaled
        for r in pagerank_fixed_point(df, iters=4, scale=10**9).collect()
    }

    nodes = sorted({v for e in edges for v in e})
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    init = 10**9 // len(nodes)
    tele = (15 * init) // 100
    rank = {v: init for v in nodes}
    for _ in range(4):
        recv = {v: 0 for v in nodes}
        for s, ds in out.items():
            c = rank[s] // len(ds)
            for d in ds:
                recv[d] += c
        rank = {v: tele + (85 * recv[v]) // 100 for v in nodes}
    assert got == rank


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from("abcdef")),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 3),
)
def test_cooccurrence_matches_bruteforce_combinations(spark, rows, min_support):
    """cooccurrence_pairs over random (group, item) multisets must equal
    the brute-force: distinct items per group, all C(n,2) combinations,
    counted across groups, filtered by support."""
    import itertools
    from collections import Counter

    from healthcare_rcm_etl_pipeline_spark.operators.corpus import cooccurrence_pairs

    df = spark.createDataFrame(rows, "g long, i string")
    got = {
        (r.item_a, r.item_b): r.support
        for r in cooccurrence_pairs(df, "g", "i", min_support=min_support).collect()
    }
    groups: dict[int, set] = {}
    for g, i in rows:
        groups.setdefault(g, set()).add(i)
    want = Counter(
        p
        for items in groups.values()
        for p in itertools.combinations(sorted(items), 2)
    )
    assert got == {p: c for p, c in want.items() if c >= min_support}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.sets(st.integers(0, 3000), min_size=1, max_size=400),
    st.sets(st.integers(0, 3000), min_size=1, max_size=400),
)
def test_kmv_exact_regime_set_algebra_on_random_sets(spark, sa, sb):
    """With k above both set sizes the KMV sketches hold EVERY hash, so
    union/intersection/difference estimates must equal the true set
    cardinalities exactly — for arbitrary random overlap structure. This
    pins the estimator plumbing (union slice, membership fractions,
    under-k exactness branch) free of sampling noise."""
    from healthcare_rcm_etl_pipeline_spark.operators import sketches as sk

    k = 1024
    rows = [("a", v) for v in sa] + [("b", v) for v in sb]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r["kmv"] for r in sk.kmv_sketches(df, "g", "v", k=k).collect()}
    d = spark.createDataFrame([(got["a"], got["b"])], "ka array<long>, kb array<long>")
    row = d.select(
        sk.kmv_distinct_estimate(sk.kmv_union(F.col("ka"), F.col("kb"), k), k).alias("u"),
        sk.kmv_intersect_estimate(F.col("ka"), F.col("kb"), k).alias("i"),
        sk.kmv_difference_estimate(F.col("ka"), F.col("kb"), k).alias("ab"),
    ).first()
    assert row["u"] == float(len(sa | sb))
    assert abs(row["i"] - len(sa & sb)) < 1e-9
    assert abs(row["ab"] - len(sa - sb)) < 1e-9


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=40,
    ),
    st.lists(st.integers(0, 14), min_size=1, max_size=4),
    st.integers(1, 4),
)
def test_bfs_hops_matches_pure_python_bfs(spark, rounds, edge_list, seed_list, max_hops):
    """bfs_hops on arbitrary random graphs must equal a pure-Python BFS:
    same reached set, same minimum hop distances, ALL seeds at hop 0
    (isolated seeds included — r7 ADVICE: an isolated seed is within 0
    hops of itself), and the max_hops bound. Catches frontier/visited slips
    (re-expanding visited nodes, off-by-one depth) that the fixed-seed
    q50 oracle can't distinguish from a lucky topology. Runs on both the
    driver and the Spark rounds."""
    from healthcare_rcm_etl_pipeline_spark.operators.graph import bfs_hops

    edges = sorted({(a, b) for a, b in edge_list if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in set(seed_list)], "node long")
    got = {
        r.node: r.hops
        for r in bfs_hops(df, seeds, max_hops=max_hops).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    frontier = {s for s in set(seed_list) if s in adj}
    expect = {s: 0 for s in set(seed_list)}
    for hop in range(1, max_hops + 1):
        frontier = {
            t for s in frontier for t in adj[s] if t not in expect
        }
        for t in frontier:
            expect[t] = hop
    assert got == expect


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=8,
    ),
    st.integers(10, 100),
)
def test_containment_pairs_match_bruteforce_sets(spark, docs, pct):
    """containment_pairs over random token docs must equal the brute-force
    set computation: for every doc pair, distinct-3-gram intersection over
    the smaller set, thresholded with the same integer arithmetic. Pins
    the asymmetric-metric claim (subset docs score 1.0 regardless of the
    superset's size) for arbitrary inputs, not just the planted fixtures."""
    from healthcare_rcm_etl_pipeline_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.n_common, round(r.containment, 9))
        for r in containment_pairs(
            df, "text", "doc_id", n=3, threshold_pct=pct
        ).collect()
    }

    def sh(toks):
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    expect = {}
    for i, a in enumerate(docs):
        for j in range(i + 1, len(docs)):
            sa, sb = sh(a), sh(docs[j])
            inter = len(sa & sb)
            m = min(len(sa), len(sb))
            if inter and 100 * inter >= pct * m:
                expect[(i, j)] = (inter, round(inter / m, 9))
    assert got == expect
