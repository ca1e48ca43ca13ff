"""Stage B — entity linking: candidate edges for canonicalization.

The reference builds an all-pairs TF-IDF cosine matrix over unique entity
norms (O(N²), app.py:3046-3067) and gates edges with adaptive thresholds,
length guards, protected terms and type compatibility (app.py:3140-3183).

Here the same *scores* (sklearn TfidfVectorizer char_wb 3-5, smooth idf,
L2, cosine) come from ONE ppjoin-style prefix filter (AllPairs — Bayardo
et al., WWW'07) that never materializes N². The edge gate never passes a
pair below ``adaptive_threshold_floor(base)``; sort each L2 vector by
(-w, gram) and let a gram join the PREFIX while the squared suffix mass
before it is still >= that floor. By Cauchy–Schwarz a pair whose shared
grams all sit in both suffixes scores < the floor, so candidates come from
postings × prefix-postings, and each candidate gets its exact cosine. The
rule runs in one of two places:

* driver-local (:func:`tfidf_prefix_pairs` inside
  :func:`_build_linking_tables_local`) for every UNCAPPED TF-IDF
  vocabulary up to ``MERGE_HINT_MIN_VOCAB`` (50k) norms: one bounded
  collect of the fused vocabulary table, then python. It beat the
  distributed cascade at every measured size up to that bound, with
  identical outputs (BENCH.md crossover table, warm on local[4]: 11.3s
  -> 1.7s at 6.4k norms, 25.3s -> 7.5s at 48.7k); below it the cascade's
  cost is Spark job scheduling, not data;
* distributed (:func:`similarity_pairs_prefix`) for what only it can do —
  df-capped vocabularies (the AUTO cap above 50k norms, or an explicit
  cap) and the semantic scorers:

    norms --(ngrams)--> explode --> tf --> idf (smooth) --> L2 weights
    weights ⋈ prefix ON ngram --> candidates --> SALTED partial-sum
      --> cosine per pair --> gate --> edges

Uncapped, both paths emit exactly the gated edges of the all-pairs cosine
(``oracle._tfidf_cosine_pairs``; pinned in tests/test_linking.py); the
join volume falls from Σ_g df_g² to Σ_g df_g·prefix_df_g.

Skew: ubiquitous n-grams (" po", "ly") make some (a, b) partial products
land on few reducers; the pair-sum aggregation is explicitly salted
(two-stage: (pair, salt) partial sums → pair total), on top of AQE skew-join
splitting. But salting only fixes the REDUCE side — candidate generation is
quadratic in per-n-gram document frequency: an n-gram present in 10⁶ norms
emits ~10¹² candidate rows before any aggregation. ``candidate_max_df``
keeps such n-grams out of candidate generation (the classic
prefix-filtered similarity join). It is AUTO-ENABLED above
``MERGE_HINT_MIN_VOCAB`` unique norms (:func:`auto_candidate_max_df`);
below that bound linking is exact. The cap bounds candidate generation
only: scoring runs over the FULL vectors, so every emitted score is the
exact cosine, and the gated edges are a superset of those a join scoring
only the sub-cap grams would gate (its scores are lower bounds). Dropped
high-df grams carry the least idf weight, so little cosine mass decides
which pairs become candidates: >=0.99 recall of pairs 0.05 above the gate
(tests/test_linking.py::test_auto_blocking_recall), and the
abbreviation/alias edge unions carry most true merges anyway (SURVEY §7.4).

Edge gates (reference parity, app.py:3140-3183):
  * protected-term pairs never merge (both endpoints protected)
  * score >= min(adaptive_threshold(a), adaptive_threshold(b))   [sic — the
    reference takes the *min* of the two per-term floors, app.py:3172-3176]
  * short-vs-long guard (_can_merge_terms, app.py:2993-3000)
  * non-UNKNOWN type sets must intersect (app.py:3015-3024), after one round
    of abbreviation-link type-union propagation (app.py:3151-3156; the
    reference mutates type sets sequentially per link — we pin the
    order-free one-round union, gated on the original sets)
"""

from __future__ import annotations

import math
import os
from bisect import bisect_right
from collections import defaultdict
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Window

from ..dictionaries import DOMAIN_ALIAS_SUBSTRINGS, PROTECTED_TERMS
from ..functions.ngrams import char_wb_ngrams_col, tfidf_vectors
from ..functions.textnorm import adaptive_threshold_col, adaptive_threshold_floor

SKIP_TYPES = ("PROP_VALUE", "MATERIAL_AMOUNT")

#: Under a df-cap, dropping high-df grams can strip so much squared
#: mass that the Cauchy–Schwarz suffix rule yields an EMPTY prefix; this
#: guarantees the top-MIN_PREFIX_RANK sub-cap grams (rarest, most
#: identity-carrying) always join the prefix so case/morphology variants
#: stay reachable. Covered by tests/test_linking.py's planted-pair recall
#: test, which imports this name.
MIN_PREFIX_RANK = 4

#: Vocabulary size above which the linking joins pin vocabulary-sized
#: dimensions (gram keep-lists, weights, per-norm stats, candidate pairs,
#: effective-type profiles) to sort-merge via .hint("merge"). The hints
#: exist because at the 640k-norm tier the estimate-driven broadcast of
#: these string-heavy tables OOM'd (hash relations inflate 5-10x their
#: shuffle size — BENCH.md round-5 curve). BELOW this bound the same hint
#: is pure overhead: a 26-norm bench vocabulary was paying a full
#: exchange+sort per join where AQE's runtime-size broadcast decision is
#: both safe (actual sizes, not estimates, and well under the 64 MiB
#: session threshold) and shuffle-free. 50k norms ≈ 650k grams ≈ ~20 MB
#: exchange-side — inside the broadcast envelope with the measured 5-10x
#: inflation on an 8g driver. The same bound decides the AUTO df-cap
#: (:func:`auto_candidate_max_df`) and the driver-local linking path
#: (build_linking_tables' ``local_max_vocab``): below it no vocabulary
#: takes the df-cap or a merge hint, and the local path measured faster
#: than the distributed one at every size up to it (BENCH.md crossover
#: table).
MERGE_HINT_MIN_VOCAB = 50_000

#: Second, higher bound for the prefix score SIDES (the weights views):
#: below it they stay UNPINNED — they read the materialized weights
#: checkpoint, AQE's runtime broadcast of them is safe in that regime, and
#: pinning measured 2.2x slower at the 62k-norm tier (OPTIMIZATION_r06 §5b).
#: The r6 tier-4 leg (917k norms, 27M weight rows) measured the two
#: failure modes this bound arbitrates between. UNPINNED, the SMJ sides
#: shuffle on (b, ngram); zstd compresses gram postings so well that the
#: weights side measures UNDER the 64 MiB adaptive threshold, and AQE's
#: runtime SMJ->BHJ conversion builds a 2^26-slot (512 MB+) hash relation:
#: fine at 3 GiB/core (24g leg green, 1334s), OOM at 1 GiB/core. PINNED,
#: the score join streams |candidates| x |grams-per-norm| rows through the
#: (b, ngram) shuffle instead (~80 GB+ scratch at 917k norms) — the plan
#: that survives cluster scale (shuffle grows linearly and spills to
#: executor-local disk; a broadcast relation grows ~600 B/norm and
#: eventually kills ANY executor heap), but more than this sandbox's
#: scratch disk. Deployment-keyed (env), defaulting high enough that every
#: sandbox-runnable tier keeps the broadcast-eligible plan with a sized
#: heap (BENCH.md: 24g at >=900k norms); cluster deployments with
#: TB-scale shuffle dirs lower it toward ~500k to take the shuffle plan
#: before executor heaps become the binding constraint.
SCORE_PIN_MIN_VOCAB = int(os.environ.get("KG_SCORE_PIN_MIN_VOCAB", "2000000"))

#: Hash-salt fan-out of the score aggregation: partial products of hub
#: pairs spread across this many reducers before the final pair-sum.
SALT_PARTITIONS = 16


def auto_candidate_max_df(n_norms: int) -> Optional[int]:
    """The AUTO df-cap for a vocabulary of ``n_norms`` unique norms: None
    (exact) up to ``MERGE_HINT_MIN_VOCAB``, else
    ``min(max(5% of n_norms, 100), 4000)``. Candidate generation is
    Σ_g df_g² — a FRACTIONAL cap alone leaves it quadratic in N (5% of 10⁶
    is a 50k-df gram emitting 2.5G candidate rows), so the absolute bound
    is what actually caps per-gram fanout at web scale;
    scripts/prefix_bench.py reports the cap each corpus ran with."""
    if n_norms <= MERGE_HINT_MIN_VOCAB:
        return None
    return min(max(int(0.05 * n_norms), 100), 4_000)


def _dim_hint(df: DataFrame, large_vocab: bool) -> DataFrame:
    """Sort-merge-pin a vocabulary-sized join input at large vocab; let the
    planner/AQE pick (runtime-size broadcast) below the bound."""
    return df.hint("merge") if large_vocab else df


@dataclass
class LinkingTables:
    norms: DataFrame  # norm, freq, types:array<string>
    edges: DataFrame  # src, dst (deduped, src < dst)
    extra_nodes: DataFrame  # norm-only nodes added by abbrev/alias edges
    base_threshold: float
    # observability: unique linkable norms and the EFFECTIVE df cap the
    # similarity join ran with (None = exact / non-tfidf scorer)
    n_norms: int = 0
    candidate_max_df: Optional[int] = None
    # which cascade built the tables: "local" (driver-side python) or
    # "distributed" (Spark joins) — see build_linking_tables
    path: str = "distributed"


# NOTE: the n-gram generator is a pure Column expression
# (functions.ngrams.char_wb_ngrams_col) — the former pandas UDF made every
# consuming task block on a Python worker and its non-canonicalizable
# PythonUDF expression defeated AQE exchange reuse (the TF-IDF explode
# stage measurably executed once per DAG branch, 4x).


def linkable_mentions(mentions: DataFrame) -> DataFrame:
    """Non-value mentions with the linking norm (case-sensitive strip of the
    display entity — app.py:3256, normalize_entity app.py:2946-2961)."""
    return (
        mentions.filter(~F.upper(F.col("entity_type")).isin(*SKIP_TYPES))
        .withColumn("norm", F.trim(F.col("entity")))
        .filter(F.col("norm") != "")
    )


def compute_base_threshold(n_rows: int) -> float:
    """app.py:3275-3280 — corpus-size-adaptive base threshold."""
    if n_rows <= 0:
        return 0.80
    return 0.80 + min(0.05, 0.02 * math.log10(max(n_rows / 1000, 1e-6)))


def tfidf_weights(norms: DataFrame, n_norms: int) -> DataFrame:
    """L2-normalized smooth TF-IDF weights: (norm, ngram, w).

    ``n_norms`` is the vocabulary size (a single scalar — computed once by
    the caller; keeping it a Python literal lets Catalyst constant-fold the
    idf expression).
    """
    tf = (
        norms.select(
            "norm", F.explode(char_wb_ngrams_col(F.col("norm"))).alias("ngram")
        )
        .groupBy("norm", "ngram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
    large_vocab = n_norms > MERGE_HINT_MIN_VOCAB
    # merge-join hints (large vocab only — see MERGE_HINT_MIN_VOCAB) on
    # BOTH weight-assembly joins: df_counts is gram-vocabulary-sized and
    # norms_sq is norm-vocabulary-sized — at the 640k-norm tier an
    # estimate-driven broadcast of either OOMs the driver building the
    # hash relation (string keys inflate 5-10x their shuffle size;
    # BENCH.md round-5 curve). Both joins share the tf frame's own shuffle
    # keys, so sort-merge costs no extra exchange there.
    weighted = tf.join(_dim_hint(df_counts, large_vocab), "ngram").withColumn(
        "w_raw",
        F.col("tf")
        * (
            F.log((F.lit(1.0 + n_norms)) / (F.lit(1.0) + F.col("df")))
            + F.lit(1.0)
        ),
    )
    norms_sq = weighted.groupBy("norm").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("l2")
    )
    return (
        weighted.join(_dim_hint(norms_sq, large_vocab), "norm")
        .select("norm", "ngram", (F.col("w_raw") / F.col("l2")).alias("w"))
    )


def similarity_pairs_prefix(
    weights: DataFrame,
    gate_floor: float,
    candidate_max_df: Optional[int] = None,
    large_vocab: bool = True,
    score_pin: bool = False,
) -> DataFrame:
    """Prefix-filtered similarity join (AllPairs/ppjoin family — Bayardo
    et al., "Scaling Up All Pairs Similarity Search", WWW'07): (a, b,
    score) with the exact TF-IDF cosine for every candidate pair scoring
    at least ``gate_floor - 1e-9``, at a fraction of the naive join volume.

    The edge gate never passes a pair below ``gate_floor``
    (= adaptive_threshold_floor(base) — the minimum of the reference's
    per-term thresholds, app.py:3003-3012). Split each norm's n-gram
    vector into a high-weight PREFIX and a low-weight SUFFIX such that the
    suffix's squared mass stays under the floor; by Cauchy–Schwarz a pair
    whose shared grams all fall in both suffixes scores
    ≤ ‖suf_a‖·‖suf_b‖ < gate_floor, so only pairs sharing at least one
    PREFIX gram can ever pass the gate. Candidate generation joins
    postings × prefix-postings (Σ_g df_g·prefix_df_g rows instead of the
    naive Σ_g df_g² — the high-df grams that dominate the quadratic term
    carry the least idf weight, so they land in suffixes and their df²
    blowup disappears), then the cosine is recomputed per candidate with
    a salted two-stage aggregation. UNCAPPED, the output is every pair of
    the all-pairs cosine at or above the margined floor (pinned against
    ``oracle._tfidf_cosine_pairs`` in tests/test_linking.py).

    ``candidate_max_df`` bounds CANDIDATE GENERATION only (grams with
    df>cap never join), while scoring runs over the FULL vectors — every
    emitted score is the EXACT cosine. The output is a SUPERSET of the
    above-floor pairs of a capped join that scores only sub-cap grams: such
    a pair shares a sub-cap gram, and it cannot have all of them in both
    suffixes (the Cauchy–Schwarz bound), so it is a candidate here too,
    and its exact score ≥ the capped lower bound. Exact scoring closes the
    measured quality hole where a morphology-heavy vocabulary (every gram
    of a planted alias pair moderately common) drove even cosine-1.0 case
    variants' capped lower-bound scores under the gate — planted-pair
    recall collapsed to 0 while the exact join held 0.5+
    (test_planted_pair_recall_under_cap pins the recovery).
    """
    # the weights feed several consumers below (df counts, prefix marking,
    # the candidate join, score sides) — materialize once instead of
    # re-running the TF-IDF explode/agg/join DAG per consumer
    weights = weights.localCheckpoint(eager=True)
    cand_weights = weights
    if candidate_max_df is not None:
        df_counts = weights.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
        # merge-join hint (large vocab only): `keep` is
        # GRAM-vocabulary-sized (~10-15x the norm count). An explicit
        # broadcast OOM'd the 640k-norm tier, and even AQE's own
        # estimate-driven broadcast choice did (string-heavy gram tables
        # inflate 5-10x their estimated size as hash relations) —
        # BENCH.md round-5 curve. The join key is ngram, which the
        # postings join shuffles on anyway.
        keep = _dim_hint(
            df_counts.filter(F.col("df") <= candidate_max_df).select("ngram"),
            large_vocab,
        )
        cand_weights = weights.join(keep, "ngram")
    # float-safety margin widens prefixes slightly (never prunes a pair the
    # exact arithmetic could pass)
    t_eff = max(gate_floor - 1e-9, 0.0)

    w2 = F.col("w") * F.col("w")
    order_win = Window.partitionBy("norm").orderBy(F.desc("w"), F.asc("ngram"))
    cum = F.sum(w2).over(
        order_win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum(w2).over(Window.partitionBy("norm"))
    # suffix mass BEFORE this row (descending-weight order): the row joins
    # the prefix while the not-yet-covered tail could still reach the floor
    marked = cand_weights.withColumn("_suffix_before", total - cum + w2)
    keep_prefix = F.col("_suffix_before") >= t_eff
    if candidate_max_df is not None:
        # Under a heavy cap a vector can lose so much squared mass that the
        # suffix rule yields an EMPTY prefix (capped total < gate floor) —
        # fatal for exact scoring, since such a pair's exact cosine can
        # still clear the gate. Guarantee a minimum prefix of the
        # top-weight SUB-CAP grams: those are the rarest, most
        # identity-carrying grams (df of a few), so the extra candidate
        # volume is tiny while pairs whose similarity lives in rare grams
        # (case/morphology variants of the same surface form) stay
        # reachable.
        rank = F.row_number().over(order_win)
        keep_prefix = keep_prefix | (rank <= F.lit(MIN_PREFIX_RANK))
    marked = marked.withColumn("_keep", keep_prefix)
    prefix = marked.filter(F.col("_keep")).select("norm", "ngram")

    # ONE postings×prefix join covers both orientations: a pair sharing a
    # gram in EITHER side's prefix appears (normalized to a < b)
    cand = (
        cand_weights.select(F.col("norm").alias("x"), "ngram")
        # prefix is ~MIN_PREFIX_RANK..8 rows per norm — far past any sane
        # broadcast at vocab scale; same merge-hint rationale as `keep`
        .join(
            _dim_hint(
                prefix.select(F.col("norm").alias("y"), "ngram"), large_vocab
            ),
            "ngram",
        )
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )

    # AllPairs length/maxweight filter (Bayardo §3.1, adapted to weighted
    # cosine): before paying the per-gram score join, drop candidates whose
    # vector-level stats bound the dot product under the gate. For the
    # shared-gram sum,  dot ≤ maxw(b)·Σ_shared wa ≤ maxw(b)·‖a‖₁  and
    # symmetrically, and  dot ≤ |shared|·maxw(a)·maxw(b) ≤
    # min(n_a,n_b)·maxw(a)·maxw(b)  — both exact inequalities, so pruning
    # on their min keeps the gated edge set IDENTICAL (the binary-cosine
    # √(n_a/n_b) count-ratio bound is NOT sound for TF-IDF weights and is
    # deliberately not used). Stats come from the FULL vectors because the
    # emitted score is the full cosine.
    stats = _dim_hint(  # vocabulary-sized — sort-merge at large vocab
        weights.groupBy("norm").agg(
            F.max("w").alias("_maxw"),
            F.sum("w").alias("_l1"),
            F.count(F.lit(1)).alias("_n"),
        ),
        large_vocab,
    )
    cand = (
        cand.join(
            stats.select(
                F.col("norm").alias("a"),
                F.col("_maxw").alias("_maxw_a"),
                F.col("_l1").alias("_l1_a"),
                F.col("_n").alias("_n_a"),
            ),
            "a",
        )
        .join(
            stats.select(
                F.col("norm").alias("b"),
                F.col("_maxw").alias("_maxw_b"),
                F.col("_l1").alias("_l1_b"),
                F.col("_n").alias("_n_b"),
            ),
            "b",
        )
        .filter(
            F.least(
                F.col("_maxw_b") * F.col("_l1_a"),
                F.col("_maxw_a") * F.col("_l1_b"),
                F.col("_maxw_a")
                * F.col("_maxw_b")
                * F.least("_n_a", "_n_b").cast("double"),
            )
            # extra 1e-9 margin: the bound dominates the score in EXACT
            # arithmetic; the margin makes the float64-computed comparison
            # safe too, so the gated edge set stays md5-identical
            >= F.lit(t_eff - 1e-9)
        )
        .select("a", "b")
    )

    # The score SIDES stay unpinned in the mid-vocabulary regime (AQE's
    # runtime broadcast of the materialized weights is safe there, and
    # pinning measured 2.2x slower at the 62k-norm tier) but are
    # sort-merge-pinned above SCORE_PIN_MIN_VOCAB: at weights scale the
    # zstd-compressed (b, ngram) shuffle of the side measures UNDER the
    # adaptive broadcast threshold while the string-keyed hash relation it
    # would build is 512 MB+ — the r6 tier-4 OOM (see the constant's doc).
    left = _dim_hint(
        weights.select(
            F.col("norm").alias("a"), "ngram", F.col("w").alias("wa")
        ),
        score_pin,
    )
    right = _dim_hint(
        weights.select(
            F.col("norm").alias("b"), "ngram", F.col("w").alias("wb")
        ),
        score_pin,
    )
    # merge hint (large vocab only): the candidate-pair table is
    # |pairs|-sized (millions at vocab scale) — an estimate-driven
    # broadcast of it into the score join was the last of the four OOM
    # sites the 640k-norm tier exposed
    joined = (
        _dim_hint(cand, large_vocab).join(left, "a").join(right, ["b", "ngram"])
    )
    partial = (
        joined.withColumn(
            "salt", F.pmod(F.xxhash64("ngram"), F.lit(SALT_PARTITIONS))
        )
        .groupBy("a", "b", "salt")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("part"))
    )
    return (
        partial.groupBy("a", "b")
        .agg(F.sum("part").alias("score"))
        .filter(F.col("score") >= F.lit(t_eff))
    )


def semantic_pairs_exact(
    norms: DataFrame, dim: int = 64
) -> DataFrame:
    """L4 scoring, exact form: (a, b, score) = embedding cosine for EVERY
    norm pair (the reference's dense matrix, app.py:3084-3110). O(N²) — the
    parity baseline for small vocabularies; the scale path is
    :func:`semantic_pairs_lsh`. Embeddings are L2-normalized, so the dot
    product IS the cosine."""
    from ..functions.embed import embedding_udf

    emb = norms.select(
        "norm", embedding_udf(dim)(F.col("norm")).alias("v")
    )
    left = emb.select(F.col("norm").alias("a"), F.col("v").alias("va"))
    right = emb.select(F.col("norm").alias("b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        left.crossJoin(right)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", dot.alias("score"))
    )


def semantic_pairs_lsh(
    norms: DataFrame,
    dim: int = 64,
    bands: int = 8,
    band_bits: int = 4,
) -> DataFrame:
    """L4 scoring, scale form: banded random-hyperplane LSH blocks the
    candidate space (a pair is a candidate when ANY band of sign-projection
    bits matches exactly — the same banding scheme the MinHash dedup uses),
    then exact cosine re-ranks inside the blocks.

    Recall for a pair with cosine c: per-plane agreement p = 1 - acos(c)/π,
    candidate prob = 1 - (1 - p^band_bits)^bands — ~1.0 at c=0.95 and
    ~0.98 at c=0.80 with the 8x4 default (4x4 held only ~0.87 at the 0.80
    gate threshold — borderline true merges silently dropped); raise
    ``bands`` for more recall, ``band_bits`` for tighter blocks. Every
    emitted score is exact, so this is a strict subset of
    :func:`semantic_pairs_exact` (tested)."""
    from ..functions.embed import embedding_udf
    from .similarity import _signature_udf

    n_planes = bands * band_bits
    if n_planes > 63:
        # the signature packs one bit per plane into a single signed long
        raise ValueError(
            f"bands*band_bits={n_planes} exceeds the 63-bit signature; "
            "raise band_bits (tighter blocks) instead of bands past this"
        )
    mask = (1 << band_bits) - 1
    emb = norms.select(
        "norm", embedding_udf(dim)(F.col("norm")).alias("v")
    ).withColumn("sig", _signature_udf(dim, n_planes)(F.col("v")))
    band_keys = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright(F.col("sig"), k * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for k in range(bands)
        ]
    )
    exploded = emb.select(
        "norm", "v", F.explode(band_keys).alias("bk")
    ).select("norm", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    left = exploded.select(
        F.col("norm").alias("a"), F.col("v").alias("va"), "band", "key"
    )
    right = exploded.select(
        F.col("norm").alias("b"), F.col("v").alias("vb"), "band", "key"
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", dot.alias("score"))
        # a pair can collide in several bands; scores are identical
        .groupBy("a", "b")
        .agg(F.max("score").alias("score"))
    )


#: semantic_lsh AUTO tier boundary: below this vocabulary size the 8x4
#: default blocks well (measured 0.985 candidate recall at the 0.80 gate,
#: BENCH.md L4 table); past it the 4-bit bands block too weakly (candidate
#: volume grows ~N²/2^bits) and the measured 10x6 tier takes over — the
#: same n_norms-keyed AUTO the TF-IDF df-cap uses.
SEMANTIC_AUTO_TIER_VOCAB = 40_000


def semantic_lsh_tier(n_norms: int) -> Tuple[int, int]:
    """(bands, band_bits) for a vocabulary size — the measured tiers from
    scripts/semantic_bench.py (BENCH.md): 8x4 holds ~0.985 recall at the
    0.80 gate below ~40k norms; 10x6 keeps candidate volume bounded above
    it at ~0.97 recall. Explicit user dials always win over this AUTO."""
    if n_norms <= SEMANTIC_AUTO_TIER_VOCAB:
        return (8, 4)
    return (10, 6)


def domain_alias_edges(all_nodes: DataFrame) -> DataFrame:
    """Substring-alias edges (app.py:2976-2982, 3157-3164): a term containing
    a known domain substring links to its short alias. Protected endpoints
    are skipped (app.py:3158-3159)."""
    frames = []
    for needle, alias in sorted(DOMAIN_ALIAS_SUBSTRINGS.items()):
        if alias in PROTECTED_TERMS:
            continue
        frames.append(
            all_nodes.filter(
                F.col("norm").contains(F.lit(needle))
                & (F.col("norm") != F.lit(alias))
                & ~F.col("norm").isin(*sorted(PROTECTED_TERMS))
            ).select(F.col("norm").alias("src"), F.lit(alias).alias("dst"))
        )
    if not frames:
        from ..functions.localrel import local_df

        return local_df(
            all_nodes.sparkSession, [], "src string, dst string"
        )
    out = frames[0]
    for frame in frames[1:]:
        out = out.unionByName(frame)
    return out.distinct()


def gate_scored_pairs(
    scored: DataFrame,
    profiles_eff: DataFrame,
    protected: list,
    base: float,
    large_vocab: bool = True,
) -> DataFrame:
    """The reference's edge gate cascade (app.py:3140-3183), applied to ANY
    (a, b, score) candidate source — TF-IDF inverted-index scores and
    semantic-embedding scores go through the identical gates, exactly as
    _build_cluster_maps treats its similarity_lookup regardless of origin."""
    # merge-join hints (large vocab only): profiles_eff is
    # vocabulary-sized, and at the 640k-norm tier TWO concurrent
    # estimate-driven broadcasts of it (string-keyed hash relations
    # inflate 5-10x) OOM'd the shared local heap while evaluating the
    # edges checkpoint (BENCH.md round-5 curve); on a real cluster the
    # same build happens per executor. The scored pairs are already
    # shuffled, so sort-merge adds only the profile-side exchange.
    eff_a = _dim_hint(
        profiles_eff.select(
            F.col("norm").alias("a"),
            F.col("types").alias("types_a"),
        ),
        large_vocab,
    )
    eff_b = _dim_hint(
        profiles_eff.select(
            F.col("norm").alias("b"),
            F.col("types").alias("types_b"),
        ),
        large_vocab,
    )
    return (
        scored.join(eff_a, "a")
        .join(eff_b, "b")
        .filter(~(F.col("a").isin(*protected) & F.col("b").isin(*protected)))
        .filter(
            F.col("score")
            >= F.least(
                adaptive_threshold_col(F.col("a"), base),
                adaptive_threshold_col(F.col("b"), base),
            )
        )
        # short-vs-long guard (_can_merge_terms): min length <= 2 with a
        # longer partner never merges
        .filter(
            ~(
                (F.least(F.length("a"), F.length("b")) <= 2)
                & (F.length("a") != F.length("b"))
            )
        )
        .filter(_types_compatible_cols(F.col("types_a"), F.col("types_b")))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )


def _types_compatible_cols(types_a, types_b):
    """Column form of _types_compatible (app.py:3015-3024) on two
    array<string> columns (missing/empty treated as {UNKNOWN})."""
    clean_a = F.array_remove(F.coalesce(types_a, F.array()), "UNKNOWN")
    clean_b = F.array_remove(F.coalesce(types_b, F.array()), "UNKNOWN")
    both_clean = (F.size(clean_a) > 0) & (F.size(clean_b) > 0)
    both_empty = (F.size(clean_a) == 0) & (F.size(clean_b) == 0)
    return F.when(both_clean, F.arrays_overlap(clean_a, clean_b)).otherwise(
        both_empty
    )


def _fused_rows_from_extracted(extracted: DataFrame) -> DataFrame:
    """(kind, k1, k2) rows for the fused vocabulary aggregate from the
    COMBINED extraction frame in ONE scan + ONE generate.

    Semantically identical to the two-branch union over
    ``linkable_mentions``/abbrevs (same multiset of rows — pinned in
    tests/test_linking.py::test_fused_one_scan_parity), but the mention and
    abbreviation arrays are transformed/filtered per row and concatenated
    BEFORE the explode, so the corpus is read once instead of twice — at
    10^12 turns the Stage-B corpus pass is the dominant I/O (the round-4
    profile/abbrev fusion halved it; this halves the remainder)."""
    m_structs = F.filter(
        F.transform(
            F.coalesce(F.col("ex.mentions"), F.array()),
            lambda m: F.struct(
                F.lit("M").alias("kind"),
                F.trim(m["entity"]).alias("k1"),
                F.upper(F.trim(m["entity_type"])).alias("k2"),
                F.upper(m["entity_type"]).alias("_raw"),
            ),
        ),
        # linkable_mentions parity: skip-type filter on the UNTRIMMED
        # upper(entity_type); non-empty trimmed norm
        lambda s: ~s["_raw"].isin(*SKIP_TYPES) & (s["k1"] != ""),
    )
    a_structs = F.filter(
        F.transform(
            F.coalesce(F.col("ex.abbreviations"), F.array()),
            lambda a: F.struct(
                F.lit("A").alias("kind"),
                F.trim(a["abbr"]).alias("k1"),
                F.trim(a["expansion"]).alias("k2"),
                F.lit("").alias("_raw"),
            ),
        ),
        lambda s: (s["k1"] != "") & (s["k2"] != ""),
    )
    return (
        extracted.select(F.explode(F.concat(m_structs, a_structs)).alias("r"))
        .select("r.kind", "r.k1", "r.k2")
    )


#: bounded-collect guard for the fused table (norm-type rows + abbrev
#: pairs) that feeds the driver-local path. The fused table runs ~1.1 rows
#: per norm (measured 53,526 rows at 48,691 norms), so twice the local
#: vocabulary bound admits every vocabulary the path serves while bounding
#: driver memory when the distributed path takes over.
LOCAL_FUSED_ROW_CAP = 2 * MERGE_HINT_MIN_VOCAB


def _types_compatible_py(types_a, types_b) -> bool:
    """Python mirror of _types_compatible_cols — COLUMN-form semantics
    (only the literal "UNKNOWN" is removed; empty strings are real types,
    unlike functions.textnorm.types_compatible which drops falsy values)."""
    a = [t for t in (types_a or []) if t != "UNKNOWN"]
    b = [t for t in (types_b or []) if t != "UNKNOWN"]
    if a and b:
        return not set(a).isdisjoint(b)
    return not a and not b


_WS_JAVA = __import__("re").compile(r"[ \t\n\x0b\f\r]")


def _adaptive_threshold_py(term: str, base: float) -> float:
    """Python mirror of adaptive_threshold_col — Java-\\s semantics for the
    compact length (the scalar helper in textnorm strips only spaces)."""
    length = len(_WS_JAVA.sub("", term or ""))
    if length <= 3:
        return max(0.95, base)
    if length <= 4:
        return max(0.92, base)
    if length <= 6:
        return max(0.88, base)
    return max(base, 0.82)


def tfidf_prefix_pairs(
    norms: List[str], gate_floor: float
) -> Dict[Tuple[str, str], float]:
    """Driver-local, uncapped form of :func:`similarity_pairs_prefix`:
    {(a, b): exact TF-IDF cosine} for every pair (a < b) scoring at least
    ``gate_floor - 1e-9``. Same prefix rule (vectors sorted by (-w, gram);
    a gram joins the prefix while the squared suffix mass before it is
    >= the margined floor), candidates from postings × prefix-postings,
    then an exact sparse dot per candidate. Its keys are exactly those of
    the oracle's all-pairs scorer filtered at the same threshold (pinned
    in tests/test_linking.py)."""
    vecs = tfidf_vectors(norms)
    # float-safety margin, as in similarity_pairs_prefix
    t_eff = max(gate_floor - 1e-9, 0.0)
    postings: Dict[str, List[int]] = defaultdict(list)
    prefix_postings: Dict[str, List[int]] = defaultdict(list)
    prefixes: List[List[str]] = []
    for i, vec in enumerate(vecs):
        suffix = sum(w * w for w in vec.values())
        prefix = []
        for g, w in sorted(vec.items(), key=lambda gw: (-gw[1], gw[0])):
            if suffix < t_eff:
                break
            prefix.append(g)
            prefix_postings[g].append(i)
            suffix -= w * w
        prefixes.append(prefix)
        for g in vec:
            postings[g].append(i)

    out: Dict[Tuple[str, str], float] = {}
    for i, vec in enumerate(vecs):
        # partners j > i sharing a gram in EITHER side's prefix (posting
        # lists are ascending, so bisect skips the j < i half)
        cands = set()
        for g in prefixes[i]:
            js = postings[g]
            cands.update(js[bisect_right(js, i):])
        for g in vec:
            js = prefix_postings.get(g)
            if js:
                cands.update(js[bisect_right(js, i):])
        for j in cands:
            other = vecs[j]
            score = sum(w * other[g] for g, w in vec.items() if g in other)
            if score >= t_eff:
                a, b = norms[i], norms[j]
                out[(a, b) if a < b else (b, a)] = score
    return out


def _build_linking_tables_local(
    spark, fused_rows, base: float, n_norms: int
) -> LinkingTables:
    """Driver-side construction of the LinkingTables from the COLLECTED
    fused (kind, k1, k2, cnt) table — a faithful python re-expression of
    the distributed steps below (gated-abbrev edges, one-round type-union
    propagation, domain-alias edges, exact TF-IDF cosine + gate cascade)
    sharing the scalar helpers. Scores come from :func:`tfidf_prefix_pairs`
    at the gate floor, so the work is Σ_g df_g·prefix_df_g candidates
    instead of every pair sharing a gram. Engages only uncapped with the
    tfidf scorer, up to ``local_max_vocab`` norms and never above
    ``MERGE_HINT_MIN_VOCAB``, the size at which the AUTO df-cap takes
    over. Output parity with the distributed path is pinned by
    tests/test_linking.py::test_local_path_parity."""
    freq: dict = defaultdict(int)
    types: dict = defaultdict(set)
    abbr_pairs = set()
    for r in fused_rows:
        if r["kind"] == "M":
            freq[r["k1"]] += int(r["cnt"])
            types[r["k1"]].add(r["k2"])
        else:
            abbr_pairs.add((r["k1"], r["k2"]))

    protected = PROTECTED_TERMS
    norms = sorted(freq)

    # --- abbreviation edges, gated on ORIGINAL type sets -------------------
    gated_abbr = set()
    for s, t in abbr_pairs:
        if s in protected and t in protected:
            continue
        # left-join semantics: a missing profile is a NULL side (empty list)
        if not _types_compatible_py(
            sorted(types[s]) if s in types else None,
            sorted(types[t]) if t in types else None,
        ):
            continue
        gated_abbr.add((s, t))

    # --- one-round abbreviation type-union propagation ---------------------
    # distributed equivalent: abbr_sym ⟕ profiles(dst).types, exploded,
    # unioned with own types, re-collected per norm; only profile norms
    # keep a row after the profiles_eff left join
    neighbor_gain: dict = defaultdict(set)
    for s, t in gated_abbr:
        for src, dst in ((s, t), (t, s)):
            if dst in types:
                neighbor_gain[src] |= types[dst]
    profiles_eff = {}
    for n in norms:
        eff = types[n] | neighbor_gain.get(n, set())
        profiles_eff[n] = sorted(eff) if eff else ["UNKNOWN"]

    # --- node universe + domain alias edges --------------------------------
    all_nodes = set(norms)
    for s, t in gated_abbr:
        all_nodes.add(s)
        all_nodes.add(t)
    alias_edges = set()
    all_nodes_full = set(all_nodes)
    for needle, alias in sorted(DOMAIN_ALIAS_SUBSTRINGS.items()):
        if alias in protected:
            continue
        for node in all_nodes:
            if needle in node and node != alias and node not in protected:
                alias_edges.add((node, alias))
                all_nodes_full.add(alias)

    # --- similarity edges (prefix-filtered exact cosine) ------------------
    sim_edges = set()
    for (a, b), score in tfidf_prefix_pairs(
        norms, adaptive_threshold_floor(base)
    ).items():
        if a in protected and b in protected:
            continue
        if score < min(
            _adaptive_threshold_py(a, base), _adaptive_threshold_py(b, base)
        ):
            continue
        la, lb = len(a), len(b)
        if min(la, lb) <= 2 and la != lb:
            continue
        if not _types_compatible_py(profiles_eff[a], profiles_eff[b]):
            continue
        sim_edges.add((a, b))

    edges = sorted(
        {
            (min(s, t), max(s, t))
            for s, t in (gated_abbr | alias_edges | sim_edges)
            if s != t
        }
    )
    extra = sorted(all_nodes_full - set(norms))

    from ..functions.localrel import local_df

    return LinkingTables(
        norms=local_df(
            spark,
            [(n, freq[n], profiles_eff[n]) for n in norms],
            "norm string, freq bigint, types array<string>",
        ),
        edges=local_df(spark, edges, "src string, dst string"),
        extra_nodes=local_df(spark, [(n,) for n in extra], "norm string"),
        base_threshold=base,
        n_norms=n_norms,
        candidate_max_df=None,
        path="local",
    )


def build_linking_tables(
    mentions: DataFrame,
    abbrevs: DataFrame,
    candidate_max_df: Optional[int] = None,
    score_source: str = "tfidf",
    embed_bands: Optional[int] = None,
    embed_band_bits: Optional[int] = None,
    extracted: Optional[DataFrame] = None,
    local_max_vocab: int = MERGE_HINT_MIN_VOCAB,
) -> LinkingTables:
    """Assemble the full gated edge list for connected components.

    ``score_source`` selects the candidate scorer feeding the (shared) gate
    cascade: "tfidf" (default — the reference's primary path),
    "semantic_exact" (L4, embedding cosine over every pair — the reference's
    use_semantic path, app.py:3084-3110; O(N²), small vocabularies), or
    "semantic_lsh" (L4 at scale: LSH-blocked candidates, exact re-rank;
    ``embed_bands``/``embed_band_bits`` dial candidate recall — see
    :func:`semantic_pairs_lsh`). ``embed_bands=None``/``embed_band_bits=None``
    means AUTO: the bands×bits tier keys off the measured vocabulary size
    (:func:`semantic_lsh_tier` — 8x4 below ~40k norms, 10x6 above), exactly
    as the TF-IDF df-cap AUTO keys off ``n_norms``; an explicit int wins.

    ``candidate_max_df=None`` means AUTO (:func:`auto_candidate_max_df`):
    exact up to ``MERGE_HINT_MIN_VOCAB`` unique norms, capped above. Pass
    an explicit int to force a cap.

    Uncapped TF-IDF vocabularies of at most ``local_max_vocab`` norms (and
    never above ``MERGE_HINT_MIN_VOCAB``) build driver-side
    (:func:`_build_linking_tables_local`); ``local_max_vocab=0`` forces the
    distributed cascade. ``LinkingTables.path`` records which one ran.
    """
    spark = mentions.sparkSession
    # ONE corpus pass total for BOTH corpus-scale inputs: the norm profiles
    # (from the mentions side) and the distinct abbreviation pairs (from
    # the abbrevs side) ride a single fused groupBy — previously the
    # profiles agg and the abbreviation distinct each re-scanned the full
    # extraction bytes (two passes; at 10^12 turns each pass is the
    # dominant I/O). The fused aggregate is vocabulary-scale, so every
    # downstream derivation (profiles, abbr edges, scalar stats) works on
    # the checkpointed small table. When the caller hands the COMBINED
    # extraction frame (``extracted``), the mention/abbrev branches fuse
    # into ONE scan + generate (:func:`_fused_rows_from_extracted`);
    # otherwise the two split views union (two scans of the same bytes).
    if extracted is not None:
        fused_rows = _fused_rows_from_extracted(extracted)
    else:
        linkable = linkable_mentions(mentions)
        m_rows = linkable.select(
            F.lit("M").alias("kind"),
            F.col("norm").alias("k1"),
            F.upper(F.trim(F.col("entity_type"))).alias("k2"),
        )
        a_rows = abbrevs.select(
            F.lit("A").alias("kind"),
            F.trim(F.col("abbr")).alias("k1"),
            F.trim(F.col("expansion")).alias("k2"),
        ).filter((F.col("k1") != "") & (F.col("k2") != ""))
        fused_rows = m_rows.unionByName(a_rows)
    fused = (
        fused_rows.groupBy("kind", "k1", "k2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # --- driver-local path for UNCAPPED tfidf vocabularies ----------------
    # (see MERGE_HINT_MIN_VOCAB). One bounded collect of the fused table
    # doubles as the size gate and the data; the distributed cascade runs
    # whenever the gate, a df-cap (explicit, or AUTO above
    # MERGE_HINT_MIN_VOCAB norms), or a non-tfidf scorer says so.
    if (
        score_source == "tfidf"
        and candidate_max_df is None
        and local_max_vocab > 0
    ):
        sample = fused.limit(LOCAL_FUSED_ROW_CAP + 1).collect()
        if len(sample) <= LOCAL_FUSED_ROW_CAP:
            m_norm_set = {r["k1"] for r in sample if r["kind"] == "M"}
            n_norms_l = len(m_norm_set)
            if n_norms_l <= min(local_max_vocab, MERGE_HINT_MIN_VOCAB):
                n_rows_l = sum(
                    int(r["cnt"]) for r in sample if r["kind"] == "M"
                )
                return _build_linking_tables_local(
                    spark,
                    sample,
                    compute_base_threshold(n_rows_l),
                    n_norms_l,
                )
    # per-norm profile (app.py:3256-3263): freq = mention count per norm,
    # types = sorted set of upper(trim(entity_type))
    profiles = (
        fused.filter(F.col("kind") == "M")
        .groupBy(F.col("k1").alias("norm"))
        .agg(
            F.sum("cnt").alias("freq"),
            F.array_sort(F.collect_set("k2")).alias("types"),
        )
    ).persist()
    stats = profiles.agg(
        F.coalesce(F.sum("freq"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_norms"),
    ).collect()[0]
    n_rows, n_norms = int(stats["n_rows"]), int(stats["n_norms"])
    base = compute_base_threshold(n_rows)
    if candidate_max_df is None:
        candidate_max_df = auto_candidate_max_df(n_norms)

    protected = sorted(PROTECTED_TERMS)
    # all vocabulary-sized dim hints key off the MEASURED vocabulary — the
    # same n_norms the df-cap AUTO uses (see MERGE_HINT_MIN_VOCAB)
    large_vocab = n_norms > MERGE_HINT_MIN_VOCAB

    # --- abbreviation edges, gated on ORIGINAL type sets -------------------
    # distinct (src=abbr_norm, dst=expansion_norm) pairs from the per-turn
    # abbreviation registry (app.py:3027-3043), derived from the fused
    # single-pass aggregate (already trimmed/non-empty/distinct)
    abbr_raw = fused.filter(F.col("kind") == "A").select(
        F.col("k1").alias("src"), F.col("k2").alias("dst")
    )
    # merge hints (large vocab only): these profile projections are
    # vocabulary-sized, and LeftOuter can only build-right — an
    # estimate-driven broadcast of the 917k-norm profiles (compressed
    # shuffle bytes under the threshold, string-keyed hash relation
    # inflating 5-10x at build) OOM'd the edges checkpoint at 1 GiB/core
    # (r6 tier-4 finding; same class as the r5 profiles_eff pins)
    prof_src = _dim_hint(
        profiles.select(
            F.col("norm").alias("src"), F.col("types").alias("types_src")
        ),
        large_vocab,
    )
    prof_dst = _dim_hint(
        profiles.select(
            F.col("norm").alias("dst"), F.col("types").alias("types_dst")
        ),
        large_vocab,
    )
    abbr_gated = (
        abbr_raw.join(prof_src, "src", "left")
        .join(prof_dst, "dst", "left")
        .filter(
            ~(F.col("src").isin(*protected) & F.col("dst").isin(*protected))
        )
        .filter(_types_compatible_cols(F.col("types_src"), F.col("types_dst")))
        .select("src", "dst")
    ).persist()

    # one-round abbreviation type-union propagation (see module docstring):
    # every endpoint's effective set gains its abbrev-neighbors' types.
    abbr_sym = abbr_gated.unionByName(
        abbr_gated.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    neighbor_types = (
        abbr_sym.join(
            # vocabulary-sized dim — same hint rationale as prof_src/dst
            _dim_hint(
                profiles.select(F.col("norm").alias("dst"), "types"),
                large_vocab,
            ),
            "dst",
            "left",
        )
        .select(F.col("src").alias("norm"), "types")
        .filter(F.col("types").isNotNull())
        .select("norm", F.explode("types").alias("t"))
    )
    own_types = profiles.select("norm", F.explode("types").alias("t"))
    effective_types = (
        own_types.unionByName(neighbor_types)
        .groupBy("norm")
        .agg(F.array_sort(F.collect_set("t")).alias("types"))
    )
    # norms with no original profile (abbrev-only endpoints) default UNKNOWN
    # (merge hint at large vocab: effective_types is vocabulary-sized —
    # same broadcast-OOM rationale as gate_scored_pairs)
    profiles_eff = (
        profiles.select("norm", "freq")
        .join(_dim_hint(effective_types, large_vocab), "norm", "left")
        .withColumn("types", F.coalesce(F.col("types"), F.array(F.lit("UNKNOWN"))))
    )

    # --- node universe ------------------------------------------------------
    abbr_nodes = (
        abbr_gated.select(F.col("src").alias("norm"))
        .unionByName(abbr_gated.select(F.col("dst").alias("norm")))
        .distinct()
    )
    all_nodes = (
        profiles.select("norm").unionByName(abbr_nodes).distinct().persist()
    )

    # --- domain alias edges --------------------------------------------------
    alias_edges = domain_alias_edges(all_nodes)
    alias_nodes = alias_edges.select(F.col("dst").alias("norm")).distinct()
    all_nodes_full = all_nodes.unionByName(alias_nodes).distinct()

    # --- similarity edges -----------------------------------------------------
    if score_source == "semantic_exact":
        scored = semantic_pairs_exact(profiles.select("norm"))
    elif score_source == "semantic_lsh":
        tier_bands, tier_bits = semantic_lsh_tier(n_norms)
        scored = semantic_pairs_lsh(
            profiles.select("norm"),
            bands=embed_bands if embed_bands is not None else tier_bands,
            band_bits=(
                embed_band_bits if embed_band_bits is not None else tier_bits
            ),
        )
    else:
        scored = similarity_pairs_prefix(
            tfidf_weights(profiles.select("norm"), n_norms),
            gate_floor=adaptive_threshold_floor(base),
            candidate_max_df=candidate_max_df,
            large_vocab=large_vocab,
            score_pin=n_norms > SCORE_PIN_MIN_VOCAB,
        )

    sim_edges = gate_scored_pairs(
        scored, profiles_eff, protected, base, large_vocab=large_vocab
    )

    edges = (
        abbr_gated.unionByName(alias_edges)
        .unionByName(sim_edges)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )

    # LeftAnti also builds right — hint the vocabulary-sized name list too
    extra_nodes = all_nodes_full.join(
        _dim_hint(profiles.select("norm"), large_vocab), "norm", "left_anti"
    )
    # Materialize the three output tables eagerly (they are vocabulary-sized,
    # tiny next to the corpus), then release the cached intermediates so
    # repeated invocations in one session don't accumulate cache blocks.
    # The three materializations are independent — submit them from a small
    # thread pool so their stages back-fill each other's scheduling gaps
    # (guide §2.6); Spark's scheduler handles concurrent jobs natively.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_norms = pool.submit(
            lambda: profiles_eff.localCheckpoint(eager=True)
        )
        f_edges = pool.submit(lambda: edges.localCheckpoint(eager=True))
        f_extra = pool.submit(
            lambda: extra_nodes.localCheckpoint(eager=True)
        )
        out = LinkingTables(
            norms=f_norms.result(),
            edges=f_edges.result(),
            extra_nodes=f_extra.result(),
            base_threshold=base,
            n_norms=int(n_norms),
            candidate_max_df=(
                candidate_max_df if score_source == "tfidf" else None
            ),
        )
    profiles.unpersist()
    abbr_gated.unpersist()
    all_nodes.unpersist()
    return out
