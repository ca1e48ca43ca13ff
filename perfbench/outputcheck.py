"""Output checks run after each timed call, outside the timed window.

Every check returns a list of failure messages; an empty list means the
output is correct.
"""

from __future__ import annotations

import hashlib
import math
import os
from typing import List, Sequence

import pandas as pd
from pyspark.sql import functions as F

from named_entity_algorithm_project_spark.datagen import conv_rows
from named_entity_algorithm_project_spark.oracle import oracle_mentions

PREDICATES = ("has_value", "mentions", "same_as")


def check_triple_counts(result) -> List[str]:
    """Per-predicate triple counts read back equal the run's metrics table."""
    metrics = {r["metric"]: r["value"] for r in result.metrics.collect()}
    counts = {
        r["pred"]: int(r["n"])
        for r in result.triples.groupBy("pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return [
        f"{p}: {counts.get(p, 0)} triples written, metrics table says "
        f"{metrics.get(f'n_triples_{p}')}"
        for p in PREDICATES
        if counts.get(p, 0) != metrics.get(f"n_triples_{p}")
    ]


def _mention_keys(df: pd.DataFrame) -> list:
    return sorted(
        (
            r.conv_id,
            int(r.turn_idx),
            r.entity,
            r.entity_norm,
            r.entity_type,
            None if pd.isna(r.start) else int(r.start),
        )
        for r in df.itertuples(index=False)
    )


def check_sample_mentions(
    result, conv_idxs: Sequence[int], seed: int, vocab_scale: int
) -> List[str]:
    """Mentions of a fixed sample of conversations equal
    ``oracle.oracle_mentions`` on the same generated rows."""
    rows = [r for i in conv_idxs for r in conv_rows(i, seed, vocab_scale=vocab_scale)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    expected, _ = oracle_mentions(pdf)
    conv_ids = sorted(set(pdf["conv_id"]))
    got = (
        result.entities.filter(F.col("conv_id").isin(conv_ids))
        .select("conv_id", "turn_idx", "entity", "entity_norm", "entity_type", "start")
        .toPandas()
    )
    want, have = _mention_keys(expected), _mention_keys(got)
    if want == have:
        return []
    missing = sorted(set(want) - set(have))[:3]
    extra = sorted(set(have) - set(want))[:3]
    return [
        f"sample mentions differ from the oracle: {len(have)} vs {len(want)}; "
        f"missing {missing}, extra {extra}"
    ]


def triple_set_md5(result) -> str:
    """Order-independent hash of the (subj, pred, obj, conv_id, turn_idx)
    triple set."""
    pdf = result.triples.select("subj", "pred", "obj", "conv_id", "turn_idx").toPandas()
    lines = sorted("\x1f".join(map(str, row)) for row in pdf.itertuples(index=False))
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _normalize(df: pd.DataFrame) -> list:
    # the same normalisation as tests/test_entry.py: columns sorted by name,
    # floats at 6 digits, rows sorted
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6f}")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return sorted(rows)


def check_query(name: str, got: pd.DataFrame, sql: str, sf_dir: str, tables) -> List[str]:
    """A query result equals its DuckDB oracle over the same tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        want = con.execute(sql).df()
    finally:
        con.close()
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    if g != w:
        diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
        return [f"{name}: {len(g)} rows vs {len(w)} expected; first differences {diff}"]
    return []
