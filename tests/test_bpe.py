"""BPE tokenizer training (operators/corpus.py:bpe_train): the Sennrich
et al. 2016 algorithm as a fully declarative Spark loop. These tests pin
the non-oracle-able claims — the oracle queries (corpus_bpe_train /
corpus_bpe_token_count) already pin cross-engine exactness:

- the canonical low/lower/newest example learns the expected merges in
  the expected order (count DESC, pair ASC tie-break);
- the double-space replace device applies merges GREEDILY left-to-right,
  including adjacent occurrences ('a b a b') and overlapping runs
  ('a a a' -> [aa, a]) — the two string-boundary traps;
- merge application equals a pure-Python reference BPE on random words;
- token accounting: n_tokens_bpe shrinks monotonically vs chars and is
  exact on a hand-computed corpus.

Each case runs twice: as written (test-sized word tables take the driver
rounds) and in ``test_distributed_rounds`` with the rounds forced into Spark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_rcm_etl_pipeline_spark.operators import corpus


def _train(spark, docs, n):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    return corpus.bpe_train(df, "text", n_merges=n)


def _syms(w: str) -> list[str]:
    return w.strip().split("  ")


def test_sennrich_canonical_example(spark):
    """low x3, lower x2, lowest, new x2, newer, newest (+ shared 'lower'):
    'l o'(6) then 'lo w'(6) lead; ties resolved by pair ASC."""
    merges, words = _train(
        spark, ["low lower lowest low low", "new newer newest new lower"], 6
    )
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in merges.orderBy("step").collect()
    ]
    assert got == [
        (1, "l", "o", 6),
        (2, "lo", "w", 6),
        (3, "e", "w", 4),
        (4, "n", "ew", 4),
        (5, "e", "r", 3),
        (6, "er", "</w>", 3),
    ]
    seg = {r["word"]: _syms(r["w"]) for r in words.collect()}
    assert seg["low"] == ["low", "</w>"]
    assert seg["lower"] == ["low", "er</w>"]
    assert seg["lowest"] == ["low", "e", "s", "t", "</w>"]
    assert seg["newest"] == ["new", "e", "s", "t", "</w>"]


def test_adjacent_and_overlapping_merge_application(spark):
    """'abab' must merge BOTH (a,b) occurrences (the consumed-boundary-
    space trap the double-space separator exists for), and 'aaa' under an
    (a,a) merge must go greedy left-to-right to [aa, a], not [a, aa]."""
    merges, words = _train(spark, ["abab abab abab aaa aaa"], 1)
    first = merges.orderBy("step").first()
    assert (first["left_sym"], first["right_sym"]) == ("a", "b")  # 6 > 4 a,a...
    seg = {r["word"]: _syms(r["w"]) for r in words.collect()}
    assert seg["abab"] == ["ab", "ab", "</w>"]

    merges2, words2 = _train(spark, ["aaa aaa aaa"], 1)
    first2 = merges2.orderBy("step").first()
    assert (first2["left_sym"], first2["right_sym"]) == ("a", "a")
    seg2 = {r["word"]: _syms(r["w"]) for r in words2.collect()}
    assert seg2["aaa"] == ["aa", "a", "</w>"]


def _python_bpe(word_counts: dict[str, int], n_merges: int):
    """Pure-Python reference BPE (Sennrich pseudo-code): greedy pair merge
    with (count DESC, pair ASC) selection."""
    vocab = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_counts[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_matches_pure_python_reference(spark):
    """8 merges over a mixed corpus must equal the pure-Python reference:
    same merge sequence, same final segmentation of every word."""
    docs = [
        "the cat sat on the mat",
        "the hat that the cat wore",
        "matter chatter patter the that",
        "cats hats mats the the the",
    ]
    wc: dict[str, int] = {}
    for d in docs:
        for w in d.split():
            wc[w] = wc.get(w, 0) + 1
    exp_merges, exp_vocab = _python_bpe(wc, 8)

    merges, words = _train(spark, docs, 8)
    got_merges = [
        (r["left_sym"], r["right_sym"]) for r in merges.orderBy("step").collect()
    ]
    assert got_merges == exp_merges
    got_vocab = {r["word"]: _syms(r["w"]) for r in words.collect()}
    assert got_vocab == exp_vocab


def test_token_counts_hand_computed(spark):
    """bpe_token_counts on a 2-group corpus: n_tokens_char counts chars+1
    per word occurrence; n_tokens_bpe uses the trained segmentation; BPE
    never exceeds the char count (merges only shrink)."""
    df = spark.createDataFrame(
        [("s1", "aa aa aa bb"), ("s2", "aa bb bb")],
        "source string, text string",
    )
    out = {
        r["source"]: r
        for r in corpus.bpe_token_counts(df, "text", "source", n_merges=2).collect()
    }
    # chars: 'aa'->3 per occurrence, 'bb'->3
    assert out["s1"]["n_words"] == 4 and out["s1"]["n_tokens_char"] == 12
    assert out["s2"]["n_words"] == 3 and out["s2"]["n_tokens_char"] == 9
    # 2 merges: (a,a) x3+1=4 first -> 'aa'; then ('aa','</w>') or (b,b)...
    # tie: ('aa','</w>') count 4 vs ('b','b') count 3 -> 'aa</w>' second.
    # 'aa' -> [aa</w>] = 1 token; 'bb' -> [b, b, </w>] = 3 tokens.
    assert out["s1"]["n_tokens_bpe"] == 3 * 1 + 1 * 3
    assert out["s2"]["n_tokens_bpe"] == 1 * 1 + 2 * 3
    for r in out.values():
        assert r["n_tokens_bpe"] <= r["n_tokens_char"]


def test_no_python_eval_in_plan(spark):
    """The BPE loop must stay JVM-side: no Python UDF eval node anywhere
    in the final word table's plan (string replace + HOF exprs only)."""
    df = spark.createDataFrame([(1, "ab ab ba")], "doc_id long, text string")
    _, words = corpus.bpe_train(df, "text", n_merges=2)
    plan = words._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_require_full_raises_on_merge_exhaustion(spark):
    """A corpus whose every word collapses to one symbol before n_merges
    is reached: require_full=True (what the oracle-backed registered
    queries set) must raise loudly — the unrolled DuckDB oracle's empty
    m{k} stage would otherwise cascade to zero rows while the engine
    keeps returning data (r8 advice)."""
    import pytest as _pytest

    from healthcare_rcm_etl_pipeline_spark.operators.corpus import bpe_train

    df = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    # 'ab' needs exactly 1 merge; asking for 5 exhausts at step 2
    merges, _ = bpe_train(df, "text", n_merges=5)
    assert merges.count() < 5  # default: silent early stop (documented)
    with _pytest.raises(ValueError, match="exhausted mergeable pairs"):
        bpe_train(df, "text", n_merges=5, require_full=True)


@pytest.mark.parametrize(
    "case",
    [
        test_sennrich_canonical_example,
        test_adjacent_and_overlapping_merge_application,
        test_matches_pure_python_reference,
        test_token_counts_hand_computed,
        test_no_python_eval_in_plan,
        test_require_full_raises_on_merge_exhaustion,
    ],
    ids=lambda case: case.__name__.removeprefix("test_"),
)
def test_distributed_rounds(spark, forced_distributed, case):
    """Every case above with the merge rounds run in Spark."""
    case(spark)
