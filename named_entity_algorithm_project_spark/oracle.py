"""Pure-pandas oracle for the full pipeline — the parity reference.

Re-implements every stage single-process (pandas + numpy + python DFS) with
the SAME pinned semantics as the Spark operators, mirroring the reference's
own single-process design (app.py EP1). The Spark pipeline must match this
oracle's (subj, pred, obj) set at P/R >= 0.95 (BASELINE.md); mention and
canonical-map parity are tested exactly.

Shared with Spark: the per-turn detector (detector.py), scalar functions
(functions/), n-gram generator (functions/ngrams.py). Independent here: the
orchestration — pandas groupbys, N² numpy cosine, DFS components — so a
mismatch isolates Spark plumbing bugs.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from typing import Dict, List, Mapping, Optional, Set, Tuple

import numpy as np
import pandas as pd

from .detector import DEFAULT_CONFIDENCE_THRESHOLD, compile_user_patterns, extract_turn
from .dictionaries import ACRONYM_SET, DOMAIN_ALIAS_SUBSTRINGS, PROTECTED_TERMS
from .functions.ngrams import tfidf_vectors
from .functions.textnorm import adaptive_threshold, can_merge_terms, types_compatible

SKIP_TYPES = {"PROP_VALUE", "MATERIAL_AMOUNT"}


def oracle_mentions(
    transcripts: pd.DataFrame,
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    user_entities: Optional[List[Tuple[str, str]]] = None,
    reference_strict: bool = False,
    span_fn=None,
) -> Tuple[pd.DataFrame, pd.DataFrame]:
    """Stage A: mentions + abbreviation pairs. ``span_fn`` mirrors
    extract_turn's pluggable span source (neural-path oracle)."""
    patterns = compile_user_patterns(user_entities) if user_entities else None
    mention_rows = []
    abbrev_rows = []
    for rec in transcripts.itertuples(index=False):
        result = extract_turn(
            rec.text,
            confidence_threshold=confidence_threshold,
            user_patterns=patterns,
            reference_strict=reference_strict,
            span_fn=span_fn,
        )
        for m in result.mentions:
            mention_rows.append(
                {
                    "conv_id": rec.conv_id,
                    "turn_idx": rec.turn_idx,
                    "entity": m.entity,
                    "entity_norm": m.entity_norm,
                    "entity_type": m.entity_type,
                    "confidence": m.confidence,
                    "start": m.start,
                    "end": m.end,
                    "canonical_acr": m.canonical_acr,
                    "is_user_entity": m.is_user_entity,
                }
            )
        for abbr, expansion in result.abbreviations:
            abbrev_rows.append(
                {
                    "conv_id": rec.conv_id,
                    "turn_idx": rec.turn_idx,
                    "abbr": abbr,
                    "expansion": expansion,
                }
            )
    mentions = pd.DataFrame(
        mention_rows,
        columns=[
            "conv_id", "turn_idx", "entity", "entity_norm", "entity_type",
            "confidence", "start", "end", "canonical_acr", "is_user_entity",
        ],
    )
    abbrevs = pd.DataFrame(
        abbrev_rows, columns=["conv_id", "turn_idx", "abbr", "expansion"]
    )
    return mentions, abbrevs


def _tfidf_cosine_pairs(norms: List[str]) -> Dict[Tuple[str, str], float]:
    """Exact sklearn-equivalent TF-IDF (char_wb 3-5, smooth idf, L2) cosine
    for all pairs sharing an n-gram. N² in the worst case — oracle only."""
    vecs = tfidf_vectors(norms)
    # inverted index to avoid true N² on sparse overlap
    postings: Dict[str, List[int]] = defaultdict(list)
    for i, v in enumerate(vecs):
        for g in v:
            postings[g].append(i)
    scores: Dict[Tuple[int, int], float] = defaultdict(float)
    for g, idxs in postings.items():
        for ii in range(len(idxs)):
            for jj in range(ii + 1, len(idxs)):
                a, b = idxs[ii], idxs[jj]
                scores[(a, b)] += vecs[a][g] * vecs[b][g]
    out: Dict[Tuple[str, str], float] = {}
    for (i, j), s in scores.items():
        a, b = norms[i], norms[j]
        key = (a, b) if a < b else (b, a)
        out[key] = s
    return out


def _semantic_cosine_pairs(norms: List[str]) -> Dict[Tuple[str, str], float]:
    """Dense numpy cosine over the stub embedder (the reference's
    use_semantic path, app.py:3084-3110) — O(N²), oracle only."""
    from .functions.embed import cosine_matrix

    if not norms:
        return {}
    mat = cosine_matrix(list(norms))
    out: Dict[Tuple[str, str], float] = {}
    n = len(norms)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = norms[i], norms[j]
            key = (a, b) if a < b else (b, a)
            out[key] = float(mat[i, j])
    return out


def oracle_linking(
    mentions: pd.DataFrame,
    abbrevs: pd.DataFrame,
    score_source: str = "tfidf",
) -> Tuple[Dict[str, str], Dict[str, Set[str]]]:
    """Stages B+C: canonical_map + alias_groups. ``score_source`` mirrors
    build_linking_tables: "tfidf" or "semantic" (both feed the same gates,
    exactly as the reference's _build_cluster_maps treats its
    similarity_lookup regardless of origin)."""
    linkable = mentions[
        ~mentions["entity_type"].str.upper().isin(SKIP_TYPES)
    ].copy()
    linkable["norm"] = linkable["entity"].map(lambda s: str(s).strip())
    linkable = linkable[linkable["norm"] != ""]
    n_rows = len(linkable)

    freq_map = Counter(linkable["norm"])
    unique_norms = sorted(set(linkable["norm"]))
    type_lookup: Dict[str, Set[str]] = defaultdict(set)
    for norm, etype in zip(linkable["norm"], linkable["entity_type"]):
        t = str(etype).strip().upper()
        if t:
            type_lookup[norm].add(t)

    base = 0.80
    if n_rows > 0:
        base = 0.80 + min(0.05, 0.02 * math.log10(max(n_rows / 1000, 1e-6)))

    # abbreviation links, gated on original type sets
    abbr_links: Set[Tuple[str, str]] = set()
    if len(abbrevs):
        for abbr, expansion in zip(abbrevs["abbr"], abbrevs["expansion"]):
            s, t = str(abbr).strip(), str(expansion).strip()
            if s and t and s != t:
                abbr_links.add((s, t))
    gated_abbr: Set[Tuple[str, str]] = set()
    for s, t in sorted(abbr_links):
        if s in PROTECTED_TERMS and t in PROTECTED_TERMS:
            continue
        ts = type_lookup.get(s) or {"UNKNOWN"}
        tt = type_lookup.get(t) or {"UNKNOWN"}
        if not types_compatible(ts, tt):
            continue
        gated_abbr.add((s, t))

    # one-round type-union propagation over gated abbrev edges
    original_types = {k: set(v) for k, v in type_lookup.items()}
    effective: Dict[str, Set[str]] = defaultdict(set)
    for norm in unique_norms:
        effective[norm] |= original_types.get(norm, set())
    for s, t in gated_abbr:
        effective[s] |= original_types.get(s, set()) | original_types.get(t, set())
        effective[t] |= original_types.get(t, set()) | original_types.get(s, set())
    for k in list(effective):
        if not effective[k]:
            effective[k] = {"UNKNOWN"}

    all_terms: Set[str] = set(unique_norms)
    for s, t in gated_abbr:
        all_terms.add(s)
        all_terms.add(t)

    # domain-alias edges (all skipped in practice: aliases are protected)
    alias_edges: Set[Tuple[str, str]] = set()
    for term in sorted(all_terms):
        for needle, alias in sorted(DOMAIN_ALIAS_SUBSTRINGS.items()):
            if needle in term and alias != term:
                if term in PROTECTED_TERMS or alias in PROTECTED_TERMS:
                    continue
                alias_edges.add((term, alias))
                all_terms.add(alias)

    # similarity edges over corpus norms
    if score_source == "semantic":
        pair_scores = _semantic_cosine_pairs(unique_norms)
    else:
        pair_scores = _tfidf_cosine_pairs(unique_norms)
    sim_edges: Set[Tuple[str, str]] = set()
    for (a, b), score in pair_scores.items():
        if a in PROTECTED_TERMS and b in PROTECTED_TERMS:
            continue
        floor = min(adaptive_threshold(a, base), adaptive_threshold(b, base))
        if score < floor:
            continue
        if not can_merge_terms(a, b):
            continue
        ea = effective.get(a) or {"UNKNOWN"}
        eb = effective.get(b) or {"UNKNOWN"}
        if not types_compatible(ea, eb):
            continue
        sim_edges.add((a, b) if a < b else (b, a))

    adjacency: Dict[str, Set[str]] = defaultdict(set)
    for term in all_terms:
        adjacency[term]
    for s, t in gated_abbr | alias_edges | sim_edges:
        adjacency[s].add(t)
        adjacency[t].add(s)

    def _score(term: str) -> Tuple[int, int, int, str]:
        return (
            0 if term in ACRONYM_SET else 1,
            -freq_map.get(term, 0),
            len(term),
            term,
        )

    visited: Set[str] = set()
    canonical_map: Dict[str, str] = {}
    groups: Dict[str, Set[str]] = defaultdict(set)
    for term in sorted(all_terms):
        if not term or term in visited:
            continue
        stack = [term]
        component: Set[str] = set()
        while stack:
            cur = stack.pop()
            if cur in visited:
                continue
            visited.add(cur)
            component.add(cur)
            stack.extend(adjacency[cur])
        canonical = min(component, key=_score)
        for member in component:
            canonical_map[member] = canonical
        groups[canonical].update(component)
    return canonical_map, dict(groups)


def oracle_apply_canonical(
    mentions: pd.DataFrame, canonical_map: Mapping[str, str]
) -> pd.DataFrame:
    df = mentions.copy()
    df["norm"] = df["entity"].map(lambda s: str(s).strip())
    is_value = df["entity_type"].str.upper().isin(SKIP_TYPES)
    df["canonical"] = np.where(
        is_value,
        df["norm"],
        df["norm"].map(lambda n: canonical_map.get(n, n)),
    )
    df["canonical_display"] = [
        acr if isinstance(acr, str) and acr else str(c).upper()
        for acr, c in zip(df["canonical_acr"], df["canonical"])
    ]
    return df


def oracle_triples(mentions_canonical: pd.DataFrame) -> pd.DataFrame:
    """Stage D: has_value triples with the pinned explicit tie-break."""
    rows = []
    for (conv_id, turn_idx), group in mentions_canonical.groupby(
        ["conv_id", "turn_idx"], sort=True
    ):
        etype = group["entity_type"].str.upper()
        props = group[etype == "PROP_NAME"]
        values = group[etype.isin(SKIP_TYPES)]
        prop_starts = props["start"].astype("float")
        max_start = prop_starts.max()
        for v in values.itertuples(index=False):
            best = None
            if len(props) and v.start is not None and not pd.isna(v.start):
                cands = []
                for p in props.itertuples(index=False):
                    p_start = (
                        float(p.start)
                        if p.start is not None and not pd.isna(p.start)
                        else (float(max_start) if not pd.isna(max_start) else 0.0)
                    )
                    dist = abs(p_start - float(v.start))
                    orig_start = (
                        float(p.start)
                        if p.start is not None and not pd.isna(p.start)
                        else math.inf
                    )
                    subj = str(p.canonical or p.entity).strip()
                    cands.append((dist, orig_start, subj))
                cands.sort()
                best = cands[0][2] or None
            rows.append(
                {
                    "subj": best,
                    "pred": "has_value",
                    "obj": str(v.entity).strip() or None,
                    "conv_id": conv_id,
                    "turn_idx": turn_idx,
                }
            )
        if len(values) == 0:
            for p in props.itertuples(index=False):
                rows.append(
                    {
                        "subj": str(p.canonical or p.entity).strip(),
                        "pred": "has_value",
                        "obj": None,
                        "conv_id": conv_id,
                        "turn_idx": turn_idx,
                    }
                )
    return pd.DataFrame(
        rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx"]
    )


def run_oracle(
    transcripts: pd.DataFrame,
    confidence_threshold: float = DEFAULT_CONFIDENCE_THRESHOLD,
    user_entities: Optional[List[Tuple[str, str]]] = None,
) -> dict:
    mentions, abbrevs = oracle_mentions(
        transcripts, confidence_threshold, user_entities
    )
    canonical_map, groups = oracle_linking(mentions, abbrevs)
    mentions_c = oracle_apply_canonical(mentions, canonical_map)
    triples = oracle_triples(mentions_c)
    return {
        "mentions": mentions_c,
        "abbrevs": abbrevs,
        "canonical_map": canonical_map,
        "alias_groups": groups,
        "triples": triples,
    }
