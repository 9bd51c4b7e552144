"""Independent answers the benchmark compares the program's outputs with."""

from __future__ import annotations

import hashlib
from datetime import datetime

import numpy as np

from datagen import PIT_FEATURES, SLOT_OF


def _canon(v) -> str:
    return v.isoformat() if isinstance(v, datetime) else repr(v)


def rows_hash(rows) -> str:
    """Order-independent hash of result rows (tuples of plain values)."""
    lines = sorted("|".join(_canon(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def pit_columns() -> list[str]:
    cols = ["spine_id", "entity_id", "event_timestamp"]
    for name in PIT_FEATURES:
        cols += [name, f"{name}__timestamp"]
    return cols


def pit_oracle_sql(value_files: list[str], spine_file: str) -> str:
    """The point-in-time training set in DuckDB: the catalog's ROW_NUMBER
    as-of form (queries._PIT_JOIN_SQL) per (spine row, feature), ordered by
    the registry's (event, created, seq) tie-break, then pivoted wide."""
    files = ", ".join(f"'{f}'" for f in value_files)
    names = ", ".join(f"'{n}'" for n in PIT_FEATURES)
    pivot = []
    for name in PIT_FEATURES:
        slot = SLOT_OF[name]
        pivot.append(f"max(CASE WHEN j.feature_name = '{name}' THEN j.{slot} END) AS {name}")
        pivot.append(f"max(CASE WHEN j.feature_name = '{name}' THEN j.vts END) AS {name}__timestamp")
    return f"""
        WITH spine AS (SELECT * FROM read_parquet('{spine_file}')),
        vals AS (SELECT * FROM read_parquet([{files}]) WHERE feature_name IN ({names})),
        j AS (
          SELECT s.spine_id, v.feature_name, v.value_long, v.value_double,
                 v.value_string, v.value_bool, v.event_timestamp AS vts,
                 ROW_NUMBER() OVER (PARTITION BY s.spine_id, v.feature_name
                                    ORDER BY v.event_timestamp DESC,
                                             v.created_timestamp DESC,
                                             v.seq DESC) AS rn
          FROM spine s JOIN vals v
            ON v.entity_id = s.entity_id AND v.event_timestamp <= s.event_timestamp
        )
        SELECT s.spine_id, s.entity_id, s.event_timestamp, {", ".join(pivot)}
        FROM spine s LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (spine_id)
        GROUP BY s.spine_id, s.entity_id, s.event_timestamp
    """


def pit_oracle_hash(value_files: list[str], spine_file: str) -> tuple[str, int]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        rows = con.execute(pit_oracle_sql(value_files, spine_file)).fetchall()
    finally:
        con.close()
    return rows_hash(rows), len(rows)


def exact_topk(queries: np.ndarray, q_ids: np.ndarray, corpus: np.ndarray, k: int) -> dict:
    """Exact cosine top-k ids per query (self excluded, ties by id)."""
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    scores = qn @ cn.T
    scores[np.arange(len(q_ids)), q_ids] = -np.inf
    out = {}
    for i, qid in enumerate(q_ids):
        order = np.lexsort((np.arange(len(cn)), -scores[i]))
        out[int(qid)] = [int(j) for j in order[:k]]
    return out
