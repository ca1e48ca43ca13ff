"""Linking-stage units: TF-IDF parity with the reference formula, threshold
gates, type compatibility, canonical pick (SURVEY §2.5 L3-L9)."""

import math

import pytest
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.functions.ngrams import char_wb_ngrams
from named_entity_algorithm_project_spark.functions.textnorm import (
    adaptive_threshold,
    can_merge_terms,
    types_compatible,
)
from named_entity_algorithm_project_spark.operators.canonical import pick_canonicals
from named_entity_algorithm_project_spark.operators.linking import (
    auto_candidate_max_df,
    compute_base_threshold,
    similarity_pairs_prefix,
    tfidf_weights,
)
from named_entity_algorithm_project_spark.oracle import _tfidf_cosine_pairs


def test_char_wb_ngrams_matches_sklearn_semantics():
    # sklearn pads each token with one space per side
    grams = char_wb_ngrams("abc")
    assert " ab" in grams and "abc" in grams and "bc " in grams
    assert " abc " in grams  # n=5 over the padded 5-char token
    # short padded token: all n=3 grams, then the whole token once at n=4,
    # then stop (sklearn's offset==0 break)
    assert char_wb_ngrams("ab") == [" ab", "ab ", " ab "]
    assert char_wb_ngrams("") == []


def test_char_wb_ngrams_col_parity(spark):
    """The pure-Column n-gram generator must reproduce char_wb_ngrams
    exactly (same list, same order, same duplicates) — including the
    short-token break rule, whitespace collapsing, Unicode whitespace,
    case folding, NULL and empty inputs."""
    from named_entity_algorithm_project_spark.functions.ngrams import (
        char_wb_ngrams_col,
    )

    cases = [
        "polymer",
        "PCE",
        "a",
        "ab",
        "x y",
        "  double  space  ",
        "tabs\there",
        "nbsp joined",
        "newline\nsplit",
        "Mixed CASE Words",
        "hyphen-ated value",
        "",
        None,
        "abcd",
        "abcde",
        "ab cd e f gh",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {
        r["s"]: r["g"]
        for r in df.select(
            "s", char_wb_ngrams_col(F.col("s")).alias("g")
        ).collect()
    }
    for c in cases:
        if c is None:
            assert got[c] is None  # explode() drops it, same as [] did
        else:
            assert got[c] == char_wb_ngrams(c), (c, got[c], char_wb_ngrams(c))


@pytest.mark.skipif(
    __import__("importlib").util.find_spec("sklearn") is None,
    reason="sklearn not installed",
)
def test_tfidf_matches_sklearn_exactly():
    from sklearn.feature_extraction.text import TfidfVectorizer
    from sklearn.metrics.pairwise import cosine_similarity

    norms = ["polymer blend", "polymer blends", "P3HT", "organic solar cell",
             "organic solar cells", "bandgap", "PCE", "pce", "Perovskite",
             "perovskite"]
    vec = TfidfVectorizer(analyzer="char_wb", ngram_range=(3, 5))
    sk = cosine_similarity(vec.fit_transform(norms))
    ours = _tfidf_cosine_pairs(norms)
    for i in range(len(norms)):
        for j in range(i + 1, len(norms)):
            key = tuple(sorted((norms[i], norms[j])))
            assert ours.get(key, 0.0) == pytest.approx(sk[i][j], abs=1e-9)


def test_spark_tfidf_matches_oracle(spark):
    norms = [
        "polymer blend", "polymer blends", "P3HT", "organic solar cell",
        "organic solar cells", "bandgap", "band gap", "mobility",
        "PCE", "pce",
    ]
    oracle = _tfidf_cosine_pairs(norms)
    df = spark.createDataFrame([(n,) for n in norms], "norm string")
    weights = tfidf_weights(df, len(norms))
    # at a zero floor every gram is a prefix gram: all pairs sharing one
    pairs = {
        (r["a"], r["b"]): r["score"]
        for r in similarity_pairs_prefix(weights, gate_floor=0.0).collect()
    }
    assert set(pairs) == set(oracle)
    for k, v in oracle.items():
        assert pairs[k] == pytest.approx(v, abs=1e-9), k
    # TfidfVectorizer's default lowercase=True preprocessing: case variants
    # are identical vectors (app.py:3050 uses the sklearn default)
    assert pairs[("PCE", "pce")] == pytest.approx(1.0, abs=1e-9)


def test_base_threshold_formula():
    # app.py:3275-3280
    assert compute_base_threshold(0) == 0.80
    assert compute_base_threshold(1000) == pytest.approx(0.80)
    assert compute_base_threshold(10000) == pytest.approx(0.82)
    assert compute_base_threshold(10**9) == pytest.approx(0.85)  # capped


def test_auto_candidate_max_df_formula():
    # exact up to MERGE_HINT_MIN_VOCAB norms, then min(max(5%·N, 100), 4000)
    assert auto_candidate_max_df(50_000) is None
    assert auto_candidate_max_df(50_001) == 2_500
    assert auto_candidate_max_df(1_000_000) == 4_000


def test_adaptive_threshold_floors():
    # app.py:3003-3012
    assert adaptive_threshold("abc", 0.8) == 0.95
    assert adaptive_threshold("abcd", 0.8) == 0.92
    assert adaptive_threshold("abcdef", 0.8) == 0.88
    assert adaptive_threshold("longer term", 0.8) == 0.82
    assert adaptive_threshold("longer term", 0.84) == 0.84
    # whitespace excluded from compact length
    assert adaptive_threshold("a b c", 0.8) == 0.95


def test_can_merge_guard():
    assert not can_merge_terms("ab", "abc")  # short vs long
    assert can_merge_terms("ab", "xy")  # both short, equal length
    assert can_merge_terms("abc", "abd")
    assert not can_merge_terms("same", "same")


def test_types_compatible_rules():
    assert types_compatible({"POLYMER"}, {"POLYMER", "ORGANIC"})
    assert not types_compatible({"POLYMER"}, {"ORGANIC"})
    assert types_compatible({"UNKNOWN"}, {"UNKNOWN"})
    assert not types_compatible({"POLYMER"}, {"UNKNOWN"})  # one clean, one not
    assert types_compatible(set(), set())


def test_canonical_pick_ordering(spark):
    # min by (not-acronym, -freq, len, lex): 'opv' (acronym) beats higher-freq
    comps = spark.createDataFrame(
        [("opv", "c1"), ("organic photovoltaic", "c1"), ("zzz", "c1"),
         ("beta", "c2"), ("alpha", "c2")],
        "norm string, component string",
    )
    norms = spark.createDataFrame(
        [("opv", 1), ("organic photovoltaic", 50), ("zzz", 99),
         ("beta", 5), ("alpha", 5)],
        "norm string, freq int",
    )
    got = {r["norm"]: r["canonical"] for r in pick_canonicals(comps, norms).collect()}
    assert got["organic photovoltaic"] == "opv"  # acronym rank wins
    assert got["zzz"] == "opv"
    # equal freq -> shorter term wins ('beta' len 4 < 'alpha' len 5)
    assert got["alpha"] == "beta"


def test_candidate_max_df_blocking_is_subset(spark):
    """The scale knob (drop ubiquitous n-grams from candidate generation)
    must only ever remove edges, never invent them — and it keeps every
    edge a join scoring only the sub-cap grams would gate (the python
    capped reference below), because scores stay exact."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_mentions,
    )
    from named_entity_algorithm_project_spark.operators.linking import (
        _adaptive_threshold_py,
        build_linking_tables,
    )

    rows = generate_rows(n_convs=60, seed=17)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    mentions, abbrevs = extract_mentions(df)
    exact = {
        (r["src"], r["dst"])
        for r in build_linking_tables(mentions, abbrevs).edges.collect()
    }
    # an exact edge whose sub-cap-only score still clears its gate is an
    # edge of the capped lower-bound join (or an abbrev/alias edge, which
    # the cap never touches): the exact-scoring cap must keep it
    n_naive_capped = 0
    for cap in (3, 10):
        lt = build_linking_tables(mentions, abbrevs, candidate_max_df=cap)
        assert lt.path == "distributed" and lt.candidate_max_df == cap
        blocked = {(r["src"], r["dst"]) for r in lt.edges.collect()}
        assert blocked <= exact, cap
        capped = _capped_cosine_pairs(
            [r["norm"] for r in lt.norms.collect()], cap
        )
        base = lt.base_threshold
        naive_capped = {
            (a, b)
            for a, b in exact
            if capped.get((a, b), 0.0)
            >= min(
                _adaptive_threshold_py(a, base),
                _adaptive_threshold_py(b, base),
            )
        }
        assert naive_capped <= blocked, cap
        n_naive_capped += len(naive_capped)
    assert n_naive_capped, "no edge survives the capped scores at any cap"


def test_fused_one_scan_parity(spark):
    """The one-scan fused vocabulary pass (transform/filter/concat/explode
    over the combined extraction frame) must produce the identical
    LinkingTables as the two-branch union over the split views — same
    norms/profile rows, same gated edges, same extra nodes."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
        split_extraction,
    )
    from named_entity_algorithm_project_spark.operators.linking import (
        build_linking_tables,
    )

    rows = generate_rows(n_convs=60, seed=17)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    extracted = extract_combined(df).localCheckpoint(eager=True)
    mentions, abbrevs = split_extraction(extracted)

    split_lt = build_linking_tables(mentions, abbrevs)
    fused_lt = build_linking_tables(mentions, abbrevs, extracted=extracted)

    def norms_set(lt):
        return {
            (r["norm"], r["freq"], tuple(r["types"]))
            for r in lt.norms.collect()
        }

    def pair_set(df_):
        return {(r[0], r[1]) for r in df_.collect()}

    assert norms_set(fused_lt) == norms_set(split_lt)
    assert pair_set(fused_lt.edges) == pair_set(split_lt.edges)
    assert {r[0] for r in fused_lt.extra_nodes.collect()} == {
        r[0] for r in split_lt.extra_nodes.collect()
    }
    assert fused_lt.base_threshold == split_lt.base_threshold
    assert fused_lt.n_norms == split_lt.n_norms


def test_local_path_parity(spark, monkeypatch):
    """The driver-local linking path (collected fused table + prefix
    scorer + python gate cascade) must produce the identical LinkingTables
    as the distributed cascade: same (norm, freq, effective-types) rows,
    same gated edge set, same extra nodes, same base threshold. The last
    corpus (6,351 norms) lies above the former 5k local bound. On the two
    small corpora the distributed edges must also equal those the local
    cascade gates from the oracle's naive all-pairs scores."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
        generate_transcripts,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_combined,
        split_extraction,
    )
    from named_entity_algorithm_project_spark.operators import linking
    from named_entity_algorithm_project_spark.operators.linking import (
        build_linking_tables,
    )

    def edge_set(lt):
        return {(r[0], r[1]) for r in lt.edges.collect()}

    corpora = [
        ((n_convs, seed), spark.createDataFrame(
            generate_rows(n_convs=n_convs, seed=seed), TRANSCRIPTS_SCHEMA
        ))
        for n_convs, seed in ((60, 17), (150, 42))
    ]
    corpora.append((
        (800, 7000),
        generate_transcripts(spark, n_convs=800, seed=7000, vocab_scale=2500),
    ))
    for key, df in corpora:
        extracted = extract_combined(df).localCheckpoint(eager=True)
        mentions, abbrevs = split_extraction(extracted)

        dist = build_linking_tables(
            mentions, abbrevs, extracted=extracted, local_max_vocab=0
        )
        loc = build_linking_tables(
            mentions, abbrevs, extracted=extracted
        )
        assert (loc.path, dist.path) == ("local", "distributed"), key
        assert loc.candidate_max_df is None and dist.candidate_max_df is None
        assert loc.base_threshold == dist.base_threshold
        assert loc.n_norms == dist.n_norms

        def norms_set(lt):
            return {
                (r["norm"], r["freq"], tuple(r["types"]))
                for r in lt.norms.collect()
            }

        assert norms_set(loc) == norms_set(dist), key
        assert edge_set(loc) == edge_set(dist), key
        assert {r[0] for r in loc.extra_nodes.collect()} == {
            r[0] for r in dist.extra_nodes.collect()
        }, key
        if loc.n_norms < 5_000:
            with monkeypatch.context() as m:
                m.setattr(
                    linking,
                    "tfidf_prefix_pairs",
                    lambda norms, floor: _tfidf_cosine_pairs(norms),
                )
                naive = build_linking_tables(
                    mentions, abbrevs, extracted=extracted
                )
            assert edge_set(naive) == edge_set(dist), key
    assert loc.n_norms > 5_000


@pytest.mark.parametrize("floor", [0.82, 0.85, 0.95])
def test_prefix_scorer_matches_oracle(floor):
    """tfidf_prefix_pairs returns exactly the oracle's all-pairs scores at
    or above its margined floor: same keys, scores within 1e-12 — on a
    few-thousand-norm vocabulary and on edge cases (empty input, norms
    shorter than 3 characters, case variants)."""
    from named_entity_algorithm_project_spark.operators.linking import (
        tfidf_prefix_pairs,
    )

    t_eff = floor - 1e-9
    vocab = _random_vocab(
        seed=3, n_words=750, n_base=1500, n_keep=1500, n_var=500
    )
    vocab = sorted(set(vocab) | {v.upper() for v in vocab[::7]})
    cases = [
        [],
        ["a"],
        ["ab", "AB", "ba", "a", "b"],
        ["PCE", "pce", "Pce", "pce film", "PCE-film"],
        vocab,
    ]
    assert len(vocab) > 2_000
    for norms in cases:
        expected = {
            p: s for p, s in _tfidf_cosine_pairs(norms).items() if s >= t_eff
        }
        got = tfidf_prefix_pairs(norms, floor)
        assert set(got) == set(expected), (len(norms), floor)
        for p, s in got.items():
            assert abs(s - expected[p]) <= 1e-12, p
    # the large case exercises the filter: pairs above every floor exist
    assert expected


def test_auto_blocking_recall(spark):
    """The auto df-cap (5% of the vocabulary — the default above 50k unique
    norms) bounds candidate generation only, so its loss is BOUNDED recall,
    never a wrong score. Contract verified here at a vocabulary where the
    cap actually operates (the generator corpus is too small), on the
    production capped prefix join at a 0.8 floor:

      1. every emitted score is the exact oracle cosine (within 1e-9)
      2. margin recall: >= 0.99 of pairs scoring >= floor+0.05 exactly are
         emitted (true merges score well above the floor; abbrev/alias
         edges cover the rest — SURVEY §7.4)
    """
    norms = _random_vocab()
    n = len(norms)
    cap = max(int(0.05 * n), 1)
    thresh = 0.8

    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    weights = tfidf_weights(df, n)
    capped = {
        (r["a"], r["b"]): r["score"]
        for r in similarity_pairs_prefix(
            weights, gate_floor=thresh, candidate_max_df=cap
        ).collect()
    }
    exact = _tfidf_cosine_pairs(norms)
    hot = {k for k, s in exact.items() if s >= thresh}
    assert len(hot) >= 100, "fixture produced too few above-threshold pairs"
    # 1. exact scores
    for k, s in capped.items():
        assert s == pytest.approx(exact[k], abs=1e-9), k
    # 2. margin recall
    margin = {k for k, s in exact.items() if s >= thresh + 0.05}
    recall = len(margin & set(capped)) / max(len(margin), 1)
    assert recall >= 0.99, f"margin recall {recall:.4f} at cap {cap} (n={n})"


def _capped_cosine_pairs(norms, cap):
    """Python reference of a df-capped join that SCORES only the grams
    with df <= cap: the oracle's all-pairs sum restricted to those grams,
    so every score is a lower bound on the exact cosine."""
    from collections import defaultdict

    from named_entity_algorithm_project_spark.functions.ngrams import (
        tfidf_vectors,
    )

    vecs = tfidf_vectors(norms)
    postings = defaultdict(list)
    for i, vec in enumerate(vecs):
        for g in vec:
            postings[g].append(i)
    scores = defaultdict(float)
    for g, idxs in postings.items():
        if len(idxs) > cap:
            continue
        for ii, i in enumerate(idxs):
            for j in idxs[ii + 1:]:
                scores[(i, j)] += vecs[i][g] * vecs[j][g]
    return {
        tuple(sorted((norms[i], norms[j]))): s for (i, j), s in scores.items()
    }


def _random_vocab(seed=5, n_words=400, n_base=700, n_keep=600, n_var=200):
    """Zipf-ish fixture shared by the cap-loss and prefix-filter tests:
    short COMMON prefixes + long RARE cores, plus planted near-dup
    variants (plural / dash) that score high."""
    import random
    import string

    rng = random.Random(seed)
    prefixes = ["pol", "met", "oxi", "ben", "ami", "chl", "flu", "nan"]
    words = sorted(
        {
            rng.choice(prefixes)
            + "".join(
                rng.choice(string.ascii_lowercase)
                for _ in range(rng.randint(8, 12))
            )
            for _ in range(n_words)
        }
    )
    base = sorted(
        {
            " ".join(rng.choice(words) for _ in range(rng.randint(1, 3)))
            for _ in range(n_base)
        }
    )[:n_keep]
    variants = []
    for t in base[:n_var]:
        variants.append(t + "s" if rng.random() < 0.5 else t.replace(" ", "-", 1))
    return sorted(set(base) | set(variants))


def test_prefix_filter_scores_match_naive(spark):
    """similarity_pairs_prefix contracts against python references:

    * UNCAPPED: every oracle pair at/above the gate floor survives with the
      oracle's score (the filter only prunes pairs that cannot reach the
      floor);
    * capped: every emitted score is the EXACT oracle cosine, and every
      pair of the capped lower-bound reference at/above the floor is
      emitted (superset)."""
    from named_entity_algorithm_project_spark.functions.textnorm import (
        adaptive_threshold_floor,
    )

    norms = _random_vocab(seed=9)
    n = len(norms)
    floor = adaptive_threshold_floor(0.80)
    df = spark.createDataFrame([(x,) for x in norms], "norm string")
    weights = tfidf_weights(df, n).localCheckpoint(eager=True)
    cap = max(int(0.05 * n), 1)
    oracle = _tfidf_cosine_pairs(norms)

    def collect(frame):
        return {(r["a"], r["b"]): r["score"] for r in frame.collect()}

    # --- uncapped: identical above the floor --------------------------------
    pref = collect(similarity_pairs_prefix(weights, gate_floor=floor))
    above = {k for k, s in oracle.items() if s >= floor}
    assert len(above) >= 50, "fixture produced too few above-floor pairs"
    assert above <= set(pref)
    for k, s in pref.items():
        assert s == pytest.approx(oracle[k], abs=1e-9), k
    assert all(s >= floor - 1e-6 for s in pref.values())

    # --- capped: exact scores, superset of the capped reference -------------
    exact_capped = collect(
        similarity_pairs_prefix(
            weights, gate_floor=floor, candidate_max_df=cap
        )
    )
    capped_above = {
        k for k, s in _capped_cosine_pairs(norms, cap).items() if s >= floor
    }
    assert capped_above, "fixture has no capped pair above the floor"
    assert capped_above <= set(exact_capped), (
        "the capped prefix join lost a capped-reference above-floor pair"
    )
    for k, s in exact_capped.items():
        # every emitted score is the TRUE cosine, not the capped lower bound
        assert s == pytest.approx(oracle[k], abs=1e-9), k


def test_planted_pair_recall_under_cap(spark):
    """Linking QUALITY under the df-cap, measured on ground truth the
    generator itself plants (datagen.planted_alias_pairs: dash/fused
    spellings of the same synthetic material). Of the planted pairs whose
    both spellings were extracted, the capped similarity join must keep
    (almost) every direct edge the exact join finds — the loss-contract
    bound measured at score level (test_auto_blocking_recall) restated at
    MERGE level on a corpus where the cap actually operates."""
    from named_entity_algorithm_project_spark.datagen import (
        generate_transcripts,
        planted_alias_pairs,
        planted_pair_edge_stats,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_mentions,
    )
    from named_entity_algorithm_project_spark.operators.linking import (
        MIN_PREFIX_RANK,
        build_linking_tables,
    )

    # the recall floor below is what the min-prefix guard buys: with a
    # guaranteed prefix of the top-MIN_PREFIX_RANK sub-cap grams, planted
    # case/morphology variants stay candidates even when the df-cap strips
    # most of their squared mass (an empty guaranteed prefix collapses
    # capped recall to ~0 on this fixture)
    assert MIN_PREFIX_RANK >= 1

    vocab_scale = 60
    transcripts = generate_transcripts(
        spark, n_convs=800, seed=42, vocab_scale=vocab_scale
    )
    mentions, abbrevs = extract_mentions(transcripts)
    mentions = mentions.localCheckpoint(eager=True)
    planted = planted_alias_pairs(vocab_scale)

    def edge_hits(**kw):
        lt = build_linking_tables(mentions, abbrevs, **kw)
        return planted_pair_edge_stats(spark, lt.norms, lt.edges, planted)

    n_present, exact_hits = edge_hits()
    assert n_present >= 50, f"only {n_present} planted pairs present"
    assert exact_hits > 0, "exact join never linked a planted pair"
    # force the AUTO-style cap at this (sub-50k) vocabulary size
    lt_probe = build_linking_tables(mentions, abbrevs)
    cap = max(int(0.05 * lt_probe.n_norms), 100)
    n_present2, capped_hits = edge_hits(candidate_max_df=cap)
    assert n_present2 == n_present
    recall_vs_exact = capped_hits / exact_hits
    assert recall_vs_exact >= 0.95, (
        f"cap lost planted pairs: {capped_hits}/{exact_hits} "
        f"(present={n_present}, cap={cap})"
    )


def test_extraction_invariant_under_partitioning(spark):
    """Mentions are identical whatever the input partitioning (narrow map —
    no order- or partition-dependence)."""
    from named_entity_algorithm_project_spark.datagen import (
        TRANSCRIPTS_SCHEMA,
        generate_rows,
    )
    from named_entity_algorithm_project_spark.operators.extract import (
        extract_mentions,
    )

    rows = generate_rows(n_convs=40, seed=18)
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)

    def key_set(frame):
        m, _ = extract_mentions(frame)
        return {
            (r["conv_id"], r["turn_idx"], r["entity"], r["entity_type"], r["start"])
            for r in m.collect()
        }

    assert key_set(df.repartition(1)) == key_set(df.repartition(13, "conv_id"))
