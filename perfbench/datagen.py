"""Seeded input generators for the feature-store benchmark.

Every input the program sees is made here from the run's ``--seed``: the
feature catalog, the value history, each daily batch, the training spine,
the request key sequence, the curation corpus and the embeddings.  The same
seed gives byte-identical inputs.  Each generator also returns the facts the
answer checks need (the latest value per key, the planted duplicates), so
the checks never ask the program under test what the right answer is.

Sizes live in ``SIZES`` with the reason for each; README.md repeats them.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITY_TYPE = "patient"
BASE_TIME = datetime(2024, 1, 1)
HISTORY_DAYS = 7

#: (name, value type, category, PHI level, access roles).  Mixed value
#: types cover four of the registry's typed slots; primary_dx is the
#: PHI-classified feature, so online reads pass an authorised role.
FEATURES = [
    ("heart_rate", "float64", "vital_sign", "none", []),
    ("age_years", "int64", "demographic", "none", []),
    ("primary_dx", "string", "diagnosis", "direct", ["clinician"]),
    ("smoker", "bool", "behavioral", "none", []),
    ("active_meds", "array_string", "medication", "none", []),
]
READ_ROLES = ["clinician"]
#: features of the point-in-time spine: the scalar ones
PIT_FEATURES = ["heart_rate", "age_years", "primary_dx", "smoker"]

SLOT_OF_TYPE = {
    "float64": "value_double",
    "int64": "value_long",
    "string": "value_string",
    "bool": "value_bool",
    "array_string": "value_array_string",
}
#: feature name -> the typed value column it is stored in
SLOT_OF = {name: SLOT_OF_TYPE[vtype] for name, vtype, *_ in FEATURES}

#: every size the benchmark uses, with the reason for it
SIZES = {
    "online_entities": (
        6_000,
        "patients in the online population (below the request LRU's 10,000 "
        "entries); one run draws 118 distinct keys, so the LRU never "
        "evicts and a hit is always a repeated key",
    ),
    "batch_entities": (
        6_000,
        "patients in the daily-batch store; same population as online",
    ),
    "zipf_exponent": (
        1.0,
        "key skew; over the 200-op trace of a 20 s run it makes 38% of reads "
        "repeats (LRU hits), so p50 and the p90 tail stay on the miss path",
    ),
    "write_every": (
        20,
        "one write_features call per 20 online_write_mix ops",
    ),
    "day_entities": (
        600,
        "patients with new values in each daily batch (10% of the store)",
    ),
    "spine_rows": (
        10_000,
        "training spine rows per day; PIT exec stays near 1 s at local[4]",
    ),
    "offline_entities": (
        200,
        "entity batch for get_offline_features",
    ),
    "kv_probes": (
        2,
        "kv_point_get probes per daily batch (each one is a Spark job)",
    ),
    "corpus_docs": (
        1_500,
        "documents per day's curation pass; 5% exact duplicates (case/whitespace "
        "jitter) and 5% near duplicates (one word changed) are planted",
    ),
    "embeddings": (
        2_000,
        "vectors in the similarity corpus and the IVF index",
    ),
    "embedding_dim": (32, "vector width"),
    "ivf_lists": (8, "IVF inverted lists built at set-up"),
    "ivf_refine_rounds": (0, "k-means rounds of the IVF build"),
    "queries": (16, "query vectors (and BM25 queries) per curation pass"),
    "top_k": (10, "neighbours per query"),
}


def size(name: str):
    return SIZES[name][0]


# -- request keys ------------------------------------------------------------


def zipf_ranks(seed: int, n: int, population: int, exponent: float) -> np.ndarray:
    """``n`` ranks in ``[0, population)`` drawn from a truncated Zipf law by
    inverse CDF over one seeded uniform stream: deterministic for a seed."""
    weights = 1.0 / np.arange(1, population + 1, dtype=np.float64) ** exponent
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    u = np.random.default_rng(seed).random(n)
    return np.minimum(np.searchsorted(cdf, u, side="right"), population - 1)


def entity_id(i: int) -> str:
    return f"pat{i:06d}"


def _entity_ids(n: int) -> np.ndarray:
    return np.array([entity_id(i) for i in range(n)], dtype=object)


#: seed of the Zipf rank trace, the same for every run
RANK_TRACE_SEED = 20_240_101


def key_sequence(seed: int, n: int, population: int, exponent: float) -> list[str]:
    """Zipf-drawn entity ids.  The rank trace is one fixed draw, so every
    seed repeats a key at the same positions and the LRU hit ratio is a
    property of the workload, not of the seed; ``seed`` permutes which
    patients hold each rank (their values come from the same seed)."""
    perm = np.random.default_rng(seed).permutation(population)
    ranks = zipf_ranks(RANK_TRACE_SEED, n, population, exponent)
    return [entity_id(int(perm[r])) for r in ranks]


# -- value history -----------------------------------------------------------

_DX = [f"E{n:02d}.{m}" for n in range(10, 40) for m in range(4)]
_MEDS = ["metformin", "lisinopril", "atorvastatin", "insulin", "warfarin",
         "albuterol", "omeprazole", "sertraline"]


def _values_schema() -> pa.Schema:
    ts = pa.timestamp("us")
    return pa.schema(
        [
            ("feature_id", pa.string()),
            ("feature_name", pa.string()),
            ("entity_type", pa.string()),
            ("entity_id", pa.string()),
            ("value_long", pa.int64()),
            ("value_double", pa.float64()),
            ("value_string", pa.string()),
            ("value_bool", pa.bool_()),
            ("value_ts", ts),
            ("value_array_long", pa.list_(pa.int64())),
            ("value_array_double", pa.list_(pa.float64())),
            ("value_array_string", pa.list_(pa.string())),
            ("event_timestamp", ts),
            ("created_timestamp", ts),
            ("seq", pa.int64()),
        ]
    )


VALUES_ARROW_SCHEMA = _values_schema()


def _random_values(rng: np.random.Generator, vtype: str, n: int) -> pa.Array:
    if vtype == "float64":
        return pa.array(np.round(rng.normal(75.0, 12.0, n), 1))
    if vtype == "int64":
        return pa.array(rng.integers(18, 91, n))
    if vtype == "string":
        return pa.array(np.asarray(_DX, dtype=object)[rng.integers(0, len(_DX), n)])
    if vtype == "bool":
        return pa.array(rng.random(n) < 0.2)
    if vtype == "array_string":
        picks = rng.integers(0, len(_MEDS), (n, 3))
        lens = rng.integers(0, 4, n)
        return pa.array(
            [sorted({_MEDS[j] for j in row[:k]}) for row, k in zip(picks.tolist(), lens.tolist())],
            pa.list_(pa.string()),
        )
    raise ValueError(vtype)


def _micros(t: datetime) -> int:
    return int((t - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def value_rows(
    seed: int,
    feature_ids: dict[str, str],
    entities: np.ndarray,
    start: datetime,
    days: float,
    seq_start: int,
    obs_per_key_p: tuple[float, ...],
) -> pa.Table:
    """Rows for every (feature, entity) in ``entities``: the number of rows
    per key is drawn from ``obs_per_key_p`` (index = count), event times are
    uniform over ``days`` from ``start``.  About 3% of keys get a second row
    with the SAME event and created time, so the (created, seq) tie-break
    decides which is latest."""
    rng = np.random.default_rng(seed)
    span_us = int(days * 86_400 * 1_000_000)
    start_us = _micros(start)
    ts_type = pa.timestamp("us")
    blocks = []
    seq = seq_start
    for name, vtype, _cat, _phi, _roles in FEATURES:
        counts = rng.choice(len(obs_per_key_p), size=len(entities), p=obs_per_key_p)
        n = int(counts.sum())
        ent = np.repeat(entities, counts)
        offs = rng.integers(0, span_us, n)
        created = offs + rng.integers(1, 3_600_000_000, n)
        # tie injection: a row copies the times of the previous row of its key
        tie = np.concatenate([[False], ent[1:] == ent[:-1]]) & (rng.random(n) < 0.06)
        idx = np.arange(n)
        src = np.maximum.accumulate(np.where(tie, 0, idx))
        offs, created = offs[src], created[src]
        slot = SLOT_OF_TYPE[vtype]
        cols = {}
        for f in VALUES_ARROW_SCHEMA:
            cols[f.name] = pa.nulls(n, f.type)
        cols["feature_id"] = pa.repeat(pa.scalar(feature_ids[name]), n)
        cols["feature_name"] = pa.repeat(pa.scalar(name), n)
        cols["entity_type"] = pa.repeat(pa.scalar(ENTITY_TYPE), n)
        cols["entity_id"] = pa.array(_entity_ids(int(entities.max()) + 1)[ent])
        cols["event_timestamp"] = pa.array(offs + start_us).cast(ts_type)
        cols["created_timestamp"] = pa.array(created + start_us).cast(ts_type)
        cols["seq"] = pa.array(np.arange(seq, seq + n))
        cols[slot] = _random_values(rng, vtype, n)
        blocks.append(pa.table(cols, schema=VALUES_ARROW_SCHEMA))
        seq += n
    return pa.concat_tables(blocks)


def history(seed: int, feature_ids: dict[str, str], population: int) -> pa.Table:
    """The initial value history: ``HISTORY_DAYS`` days for every patient;
    5% of (feature, patient) keys have no value, so reads null-fill."""
    return value_rows(
        seed, feature_ids, np.arange(population), BASE_TIME, HISTORY_DAYS, 0,
        (0.05, 0.30, 0.35, 0.20, 0.10),
    )


def day_batch(
    seed: int, feature_ids: dict[str, str], population: int, day: int, seq_start: int
) -> pa.Table:
    """One new day of values (day index ``day`` counts from BASE_TIME) for a
    seeded subset of patients."""
    rng = np.random.default_rng(seed * 1_000 + day)
    entities = np.sort(rng.choice(population, size(
        "day_entities"), replace=False))
    return value_rows(
        seed * 1_000 + day + 7, feature_ids, entities,
        BASE_TIME + timedelta(days=day), 1.0, seq_start, (0.0, 0.7, 0.3),
    )


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


# -- latest-value model ------------------------------------------------------


class LatestModel:
    """The generator's own model of the newest value per (feature, entity):
    argmax over (event_ts, created_ts, seq), the registry's documented order."""

    def __init__(self) -> None:
        self._rows: dict[tuple[str, str], tuple] = {}

    def add_table(self, table: pa.Table) -> None:
        order = ["feature_name", "entity_id", "event_timestamp", "created_timestamp", "seq"]
        last = (
            table.select(order)
            .append_column("row", pa.array(np.arange(table.num_rows)))
            .to_pandas(timestamp_as_object=True)
            .sort_values(order)
            .drop_duplicates(["feature_name", "entity_id"], keep="last")
        )
        for name, group in last.groupby("feature_name"):
            slot = table.column(SLOT_OF[name])
            values = slot.take(pa.array(group["row"].to_numpy())).to_pylist()
            for (_, ent, ev, cr, seq, _), value in zip(group.itertuples(index=False), values):
                self.add(name, ent, ev, cr, int(seq), value)

    def add(self, name, entity, event_ts, created_ts, seq, value) -> None:
        key = (name, entity)
        row = (event_ts, created_ts, seq, value)
        old = self._rows.get(key)
        if old is None or row[:3] > old[:3]:
            self._rows[key] = row

    def get(self, name: str, entity: str):
        """(value, event_ts), or (None, None) when the key has no value."""
        row = self._rows.get((name, entity))
        return (None, None) if row is None else (row[3], row[0])

    def freshness_counts(self, now: datetime, sla_s: int, stale_s: int) -> dict[str, int]:
        """Counts per freshness class over every (feature, entity) key, with
        the classifier's boundaries (age <= sla fresh, <= stale stale)."""
        out = {"fresh": 0, "stale": 0, "expired": 0}
        for ev, *_ in self._rows.values():
            age = (now - ev).total_seconds()
            out["fresh" if age <= sla_s else "stale" if age <= stale_s else "expired"] += 1
        return out


# -- training spine ----------------------------------------------------------


def spine(seed: int, population: int, rows: int, end: datetime) -> pa.Table:
    """(spine_id, entity_id, event_timestamp) rows, uniform over the store's
    time range up to ``end``."""
    rng = np.random.default_rng(seed)
    ents = rng.integers(0, population, rows)
    span_us = int((end - BASE_TIME).total_seconds() * 1_000_000)
    ts = rng.integers(0, span_us, rows) + _micros(BASE_TIME)
    return pa.table(
        {
            "spine_id": pa.array(np.arange(rows), pa.int64()),
            "entity_id": pa.array([entity_id(int(e)) for e in ents]),
            "event_timestamp": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        }
    )


# -- curation corpus ---------------------------------------------------------

_VOCAB_SIZE = 3_000


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = ""
    i += 27
    while i:
        i, r = divmod(i, 26)
        out += letters[r]
    return out


_VOCAB = [_word(i) for i in range(_VOCAB_SIZE)]


def normalize(text: str) -> str:
    """Mirror of dedup.normalize_text: lowercase, collapse whitespace, trim."""
    return " ".join(text.lower().split())


@dataclass
class Corpus:
    ids: list[int]
    texts: list[str]
    planted_exact: int  # rows that are exact (normalized) copies of another
    near_pairs: set[tuple[int, int]]  # planted (id_a, id_b), id_a < id_b
    queries: list[tuple[str, str]]  # BM25 (query_id, text)


def corpus(seed: int, n_docs: int, n_exact: int, n_near: int) -> Corpus:
    """``n_docs`` documents: unique base documents (Zipf word draws, 30-80
    words, each distinct after normalization), ``n_near`` of them paired
    with a copy that differs in one word, and ``n_exact`` copies of other
    bases re-cased and re-spaced so only normalization makes them equal."""
    rng = np.random.default_rng(seed)
    n_base = n_docs - n_exact - n_near
    word_p = 1.0 / np.arange(1, _VOCAB_SIZE + 1) ** 0.9
    word_p /= word_p.sum()
    seen: set[str] = set()
    bases: list[str] = []
    while len(bases) < n_base:
        words = [_VOCAB[w] for w in rng.choice(_VOCAB_SIZE, rng.integers(30, 81), p=word_p)]
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            bases.append(text)
    texts = list(bases)
    near_pairs = set()
    near_src = rng.choice(n_base, n_near, replace=False)
    for src in near_src:
        words = bases[src].split(" ")
        pos = int(rng.integers(0, len(words)))
        words[pos] = "zz" + _VOCAB[int(rng.integers(0, _VOCAB_SIZE))]
        text = " ".join(words)
        if text in seen:  # cannot happen: "zz" words are outside the vocab
            raise AssertionError("near duplicate collided")
        seen.add(text)
        near_pairs.add((int(src), len(texts)))
        texts.append(text)
    exact_src = rng.choice(np.setdiff1d(np.arange(n_base), near_src), n_exact, replace=False)
    for src in exact_src:
        words = bases[src].split(" ")
        jitter = [w.upper() if rng.random() < 0.3 else w for w in words]
        texts.append("  ".join(jitter) + " \t")
    order = rng.permutation(len(texts))
    new_id = {int(old): i for i, old in enumerate(order)}
    ids = list(range(len(texts)))
    shuffled = [texts[int(old)] for old in order]
    near = {tuple(sorted((new_id[a], new_id[b]))) for a, b in near_pairs}
    queries = [
        (f"q{j}", " ".join(_VOCAB[w] for w in rng.choice(200, 3, replace=False)))
        for j in range(size("queries"))
    ]
    return Corpus(ids, shuffled, n_exact, near, queries)


def corpus_table(c: Corpus) -> pa.Table:
    return pa.table({"doc_id": pa.array(c.ids, pa.int64()), "text": pa.array(c.texts)})


def embeddings(seed: int, n: int, dim: int, clusters: int = 32) -> np.ndarray:
    """Clustered unit-scale vectors: Gaussian blobs around random centres,
    so IVF lists are meaningful and exact top-k scores rarely tie."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 1.0, (clusters, dim))
    which = rng.integers(0, clusters, n)
    return centres[which] + rng.normal(0.0, 0.35, (n, dim))


def embedding_table(vecs: np.ndarray, id_col: str) -> pa.Table:
    return pa.table(
        {
            id_col: pa.array(np.arange(len(vecs)), pa.int64()),
            "embedding": pa.array([row.tolist() for row in vecs], pa.list_(pa.float64())),
        }
    )
