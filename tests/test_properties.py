"""Property-based tests (SURVEY.md §5.2 item 4, hypothesis): the engine's
core invariants checked against randomized inputs and naive Python
reference implementations.

- PIT join: leak-free (no attached value newer than the spine row's own
  timestamp), spine-preserving, and equal to the O(n²) reference scan.
- latest_per_key: equals the naive per-key argmax with deterministic ties.
- exact dedup: idempotent; keeps exactly one row per group (the min id).
- sessionization: session count per user equals gap-count + 1.
- salted join: row-for-row equal to the plain join.

Spark jobs are slow per example, so examples are few but adversarial:
timestamps collide on purpose (tie-breaking), values arrive out of order,
entities overlap partially between spine and values.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from feature_store_healthcare_spark.operators import dedup
from feature_store_healthcare_spark.operators.pit import (
    latest_per_key,
    point_in_time_join,
    salted_join,
)

BASE = datetime(2024, 1, 1)

# derandomize: a green suite must mean the same thing every run — the r4
# latest_per_key tie defect surfaced three rounds late purely by generation
# luck (VERDICT r4 #2).  Hypothesis derives examples from the test body
# hash, so coverage still shifts when a test changes.
SETTINGS = settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# EAV rows: (entity 0..3, value, ts-offset hours 0..6 — collisions likely, seq)
eav_rows = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(-100, 100),
        st.integers(0, 6),
        st.integers(0, 10_000),
    ),
    min_size=1,
    max_size=25,
)

spine_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 6)),
    min_size=1,
    max_size=10,
)


def _values_df(spark, rows):
    data = [
        (e, v, BASE + timedelta(hours=h), s) for (e, v, h, s) in rows
    ]
    return spark.createDataFrame(
        data, "entity_id long, value long, ts timestamp_ntz, seq long"
    ).coalesce(2)


def _naive_latest(values):
    """Reference model: argmax by (ts, seq), then max value on full ties —
    the payload-fallback total order latest_per_key promises."""
    want = {}
    for e, v, h, s in values:
        ts = BASE + timedelta(hours=h)
        cur = want.get(e)
        if cur is None or (ts, s, v) > (cur[1], cur[2], cur[0]):
            want[e] = (v, ts, s)
    return want


# The r4 falsifying example: two rows identical in (entity, ts, seq) but
# different value — pinned so the full-tie path is exercised every run.
@example(values=[(0, 0, 0, 0), (0, 1, 0, 0)])
@given(values=eav_rows)
@SETTINGS
def test_latest_per_key_matches_naive_argmax(spark, values):
    df = _values_df(spark, values)
    want = _naive_latest(values)
    got = {
        r.entity_id: (r.value, r.ts, r.seq)
        for r in latest_per_key(df, ["entity_id"], "ts", tiebreak=["seq"]).collect()
    }
    assert got == want


@example(values=[(0, 0, 0, 0), (0, 1, 0, 0)])
@given(values=eav_rows)
@SETTINGS
def test_latest_per_key_strategies_agree(spark, values):
    """max_by and window must pick the same row bit-for-bit on any input —
    including full (ts, tiebreak) ties broken by the payload fallback."""
    df = _values_df(spark, values)
    want = _naive_latest(values)
    for strategy in ("max_by", "window"):
        got = {
            r.entity_id: (r.value, r.ts, r.seq)
            for r in latest_per_key(
                df, ["entity_id"], "ts", tiebreak=["seq"], strategy=strategy
            ).collect()
        }
        assert got == want, strategy


@example(values=[(0, 0, 0, 0), (0, 1, 0, 0)], spine=[(0, 1)])
@given(values=eav_rows, spine=spine_rows)
@SETTINGS
def test_pit_join_leakfree_and_matches_reference(spark, values, spine):
    vals = _values_df(spark, values)
    spine_df = spark.createDataFrame(
        [(i, e, BASE + timedelta(hours=h)) for i, (e, h) in enumerate(spine)],
        "row_id long, entity_id long, as_of timestamp_ntz",
    ).coalesce(2)
    out = point_in_time_join(
        spine_df,
        vals,
        on="entity_id",
        spine_ts="as_of",
        value_ts="ts",
        value_cols=["value"],
        tiebreak=["seq"],
        spine_keys=["row_id"],
    ).collect()

    # spine-preserving: every spine row appears exactly once
    assert sorted(r.row_id for r in out) == list(range(len(spine)))

    ref = {}
    for i, (e, h) in enumerate(spine):
        as_of = BASE + timedelta(hours=h)
        best = None
        for ve, vv, vh, vs in values:
            ts = BASE + timedelta(hours=vh)
            if ve == e and ts <= as_of:  # leak-free bound (ref :483)
                if best is None or (ts, vs, vv) > (best[1], best[2], best[0]):
                    best = (vv, ts, vs)
        ref[i] = best

    for r in out:
        want = ref[r.row_id]
        if want is None:
            assert r.value is None and r.value__timestamp is None
        else:
            assert (r.value, r.value__timestamp) == (want[0], want[1])
            assert r.value__timestamp <= r.as_of  # the leak-free invariant


@given(values=eav_rows)
@SETTINGS
def test_exact_dedup_idempotent_keep_min(spark, values):
    df = _values_df(spark, values)
    once = dedup.exact_dedup_keep_min(df, ["entity_id"], "seq")
    twice = dedup.exact_dedup_keep_min(once, ["entity_id"], "seq")
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    keys = [r.entity_id for r in once.collect()]
    assert len(keys) == len(set(keys))
    # keeper carries the minimum seq of its group
    want_min = {}
    for e, v, h, s in values:
        want_min[e] = min(want_min.get(e, s), s)
    got_min = {r.entity_id: r.seq for r in once.collect()}
    assert got_min == want_min


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 48)),  # (user, ts-offset hours)
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_sessionize_gap_counting(spark, events):
    """resample.sessionize (the round-6 operator all three call sites
    share) assigns the SAME per-event session id as a naive per-user fold
    over (ts, event_id)-sorted events — not just matching session counts."""
    from feature_store_healthcare_spark.operators.resample import sessionize

    df = spark.createDataFrame(
        [
            (i, u, BASE + timedelta(hours=h))
            for i, (u, h) in enumerate(events)
        ],
        "event_id long, user_id long, ts timestamp_ntz",
    ).coalesce(2)
    out = sessionize(df, "user_id", "ts", gap=2 * 3600, tiebreak=["event_id"])
    got = {r.event_id: (r.user_id, r.session_id) for r in out.collect()}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (u, h) in enumerate(events):
        by_user.setdefault(u, []).append((h, i))
    want = {}
    for u, rows in by_user.items():
        rows.sort()  # (hour, event_id) — the operator's declared order
        sid, prev = 0, None
        for h, i in rows:
            if prev is None or (h - prev) * 3600 > 7200:
                sid += 1
            want[i] = (u, sid)
            prev = h
    assert got == want


@given(
    facts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=30),
    dim=st.lists(st.integers(0, 4), min_size=1, max_size=5, unique=True),
)
@SETTINGS
def test_salted_join_equals_plain_join(spark, facts, dim):
    f = spark.createDataFrame(facts, "k long, v long").coalesce(2)
    d = spark.createDataFrame([(k, f"dim_{k}") for k in dim], "k long, name string")
    plain = sorted(map(tuple, f.join(d, "k").select("k", "v", "name").collect()))
    salted = sorted(
        map(tuple, salted_join(f, d, on="k", n_salts=4).select("k", "v", "name").collect())
    )
    assert plain == salted


# trailing-window rows: (entity 0..2, value, ts-offset hours 0..48, seq)
window_rows = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(-5, 5),
        st.integers(0, 48),
    ),
    min_size=0,
    max_size=25,
)


@SETTINGS
@given(rows=window_rows, spine_offsets=st.lists(st.integers(0, 48), min_size=1, max_size=5))
def test_trailing_window_agg_matches_naive(spark, rows, spine_offsets):
    """trailing_window_agg == the O(spine×values) python scan: count and
    sum of values with spine_ts - W <= ts < spine_ts per entity."""
    from feature_store_healthcare_spark.operators.pit import trailing_window_agg

    W = timedelta(hours=12)
    vals = [(f"e{e}", BASE + timedelta(hours=h), float(v)) for e, v, h in rows]
    spine = [(f"e{i % 3}", BASE + timedelta(hours=h)) for i, h in enumerate(spine_offsets)]
    spine = list(dict.fromkeys(spine))  # unique (entity, ts) spine keys

    spine_df = spark.createDataFrame(spine, "entity string, sts timestamp_ntz")
    vals_df = spark.createDataFrame(vals, "entity string, ts timestamp_ntz, value double")
    out = trailing_window_agg(
        spine_df, vals_df, on="entity", spine_ts="sts", value_ts="ts",
        window="INTERVAL 12 HOURS", aggs=[F.sum("value").alias("s")],
        count_alias="n", spine_keys=["entity", "sts"],
    )
    got = {(r["entity"], r["sts"]): (r["n"], r["s"]) for r in out.collect()}
    assert set(got) == set(spine)
    for ent, sts in spine:
        match = [v for e2, t2, v in vals if e2 == ent and sts - W <= t2 < sts]
        want = (len(match), sum(match) if match else None)
        assert got[(ent, sts)] == want, (ent, sts, got[(ent, sts)], want)


@SETTINGS
@given(
    keys=st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
    w=st.tuples(st.floats(0.1, 5), st.floats(0.1, 5), st.floats(0.1, 5)),
)
def test_hash_split_partition_properties(spark, keys, w):
    """hash_split is a partition: every key gets exactly one label, labels
    come from the weight dict, and assignment depends only on (key, salt)."""
    from feature_store_healthcare_spark.operators import sampling

    weights = {"a": w[0], "b": w[1], "c": w[2]}
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = sampling.hash_split(df, "k", weights).collect()
    assert len(out) == len(keys)
    assert {r["split"] for r in out} <= set(weights)
    # pure function of the key: recomputing row-by-row agrees
    again = {r["k"]: r["split"] for r in sampling.hash_split(df, "k", weights).collect()}
    for r in out:
        assert again[r["k"]] == r["split"]


@given(
    st.lists(
        st.tuples(
            st.integers(0, 20),
            st.floats(-1e6, 1e6, allow_nan=False),
            st.floats(-1e6, 1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=10, deadline=None)
def test_unpivot_pivot_roundtrip(spark, rows):
    """melt ∘ pivot = identity (SURVEY §5.2 item 4) for unique-keyed wide
    tables — native unpivot then groupBy().pivot(first) reconstructs the
    original wide frame exactly."""
    df = spark.createDataFrame(rows, "id long, a double, b double")
    long = df.unpivot(["id"], ["a", "b"], "k", "v")
    wide = (
        long.groupBy("id").pivot("k", ["a", "b"]).agg(F.first("v"))
    )
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, df.collect()))


@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None)
def test_connected_components_match_union_find(spark, edges):
    """Distributed min-label CC ≡ sequential union-find on arbitrary small
    graphs (chains, stars, cycles, multi-edges — whatever hypothesis finds)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    # canonicalize: label every node by the min node id in its component
    mins: dict[int, int] = {}
    for n, r in want.items():
        mins[r] = min(mins.get(r, n), n)
    want = {n: mins[r] for n, r in want.items()}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert got == want


# --- PHI scrub properties ---------------------------------------------------

phi_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("0123456789-. @abcZ_%+/#[]SN"),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=30,
)


@given(texts=phi_texts)
@SETTINGS
def test_phi_scrub_idempotent_and_clean(spark, texts):
    """scrub(scrub(x)) == scrub(x) (mask tokens contain no digits, so a
    second pass finds nothing), and scrubbed text never contains a raw
    SSN/MRN-shaped span."""
    from feature_store_healthcare_spark.operators import privacy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).coalesce(2)
    once = privacy.scrub_documents(df, "text")
    twice = privacy.scrub_documents(once.select("doc_id", "text"), "text")
    rows = {
        r.doc_id: r
        for r in once.join(
            twice.select(
                "doc_id",
                F.col("text").alias("text2"),
                F.col("phi_total").alias("phi_total2"),
            ),
            "doc_id",
        ).collect()
    }
    assert len(rows) == len(texts)
    for r in rows.values():
        assert r.text2 == r.text, (r.text, r.text2)
        assert r.phi_total2 == 0, r.text


# CDC changelog: (key 0..3, ts 0..6 with collisions, seq unique-ish, is_delete)
cdc_rows = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(0, 6),
        st.integers(0, 10_000),
        st.booleans(),
    ),
    min_size=1,
    max_size=25,
    # seq is the tiebreak — keep it unique so the winner is well-defined
    # in BOTH the engine and the naive reference
    unique_by=lambda r: r[2],
)


@given(rows=cdc_rows, cut=st.integers(0, 7))
@SETTINGS
def test_cdc_fold_matches_naive_and_decomposes(spark, rows, cut):
    """materialize == naive python fold; snapshot(prefix)+delta == single
    fold, for any time cut (incremental ≡ batch, randomized)."""
    from feature_store_healthcare_spark.operators import cdc

    df = spark.createDataFrame(
        [(k, t, s, "D" if d else "U", float(k * 100 + t)) for k, t, s, d in rows],
        "k int, ts int, seq int, op string, value double",
    )
    # naive reference: winner per key by (ts, seq); delete removes
    best: dict[int, tuple] = {}
    for k, t, s, d in rows:
        cur = best.get(k)
        if cur is None or (t, s) > (cur[0], cur[1]):
            best[k] = (t, s, d)
    want = {
        k: (t, s) for k, (t, s, d) in best.items() if not d
    }

    single = cdc.materialize(df, ["k"], "ts", tiebreak=["seq"])
    got = {r.k: (r.ts, r.seq) for r in single.collect()}
    assert got == want

    snap = cdc.materialize(df.where(F.col("ts") < cut), ["k"], "ts", tiebreak=["seq"])
    two = cdc.apply_changes(
        snap, df.where(F.col("ts") >= cut), ["k"], "ts", tiebreak=["seq"]
    )
    got2 = {r.k: (r.ts, r.seq) for r in two.collect()}
    # NOTE: apply_changes drops the snapshot's losing tombstones, so a key
    # deleted in the prefix stays absent unless the delta resurrects it —
    # which is exactly what the single-pass fold produces too.
    assert got2 == want


pack_rows = st.lists(
    st.tuples(st.integers(0, 500), st.integers(1, 300)),
    min_size=1,
    max_size=30,
    unique_by=lambda r: r[0],
)


@given(rows=pack_rows, budget=st.sampled_from([128, 512, 2048]))
@SETTINGS
def test_pack_sequences_matches_naive(spark, rows, budget):
    """pack_id/pack_offset equal a python re-implementation of the salted
    md5 ordering — for any doc set and budget."""
    import hashlib

    from feature_store_healthcare_spark.operators import sampling

    df = spark.createDataFrame(rows, "doc_id int, n_tok int")
    got = {
        r.doc_id: (r.pack_group, r.pack_seq, r.pack_offset, r.pack_id)
        for r in sampling.pack_sequences(df, "doc_id", "n_tok", budget=budget).collect()
    }

    def h(doc_id):
        return hashlib.md5(f"pack:{doc_id}".encode()).hexdigest()[:8]

    by_group: dict[str, list] = {}
    for doc_id, n_tok in rows:
        by_group.setdefault(h(doc_id)[0], []).append((h(doc_id), doc_id, n_tok))
    want = {}
    for grp, members in by_group.items():
        members.sort()
        offset = 0
        for seq, (hh, doc_id, n_tok) in enumerate(members, start=1):
            want[doc_id] = (grp, seq, offset, offset // budget)
            offset += n_tok
    assert got == want


# ---------------------------------------------------------------------------
# Round-2 operators vs naive references
# ---------------------------------------------------------------------------

doc_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40),
    min_size=1,
    max_size=8,
)


def _normalize_py(s: str) -> str:
    import re

    return re.sub(r"\s+", " ", s.lower()).strip()


@SETTINGS
@given(texts=doc_texts, chunk=st.integers(2, 6), overlap=st.integers(0, 4))
def test_chunking_matches_naive(spark, texts, chunk, overlap):
    from feature_store_healthcare_spark.operators.chunking import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    stride = chunk - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (
            r["n_chunks"], r["token_start"], r["chunk_token_count"], r["chunk_text"]
        )
        for r in chunk_documents(df, "doc_id", "text", chunk, overlap).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = _normalize_py(t).split(" ")
        n = len(toks)
        n_chunks = 1 + max(0, -(-(max(n - chunk, 0)) // stride))
        for ci in range(n_chunks):
            start = ci * stride
            piece = toks[start : start + chunk]
            want[(i, ci)] = (n_chunks, start, len(piece), " ".join(piece))
    assert got == want


@SETTINGS
@given(texts=doc_texts)
def test_hashed_tf_matches_naive(spark, texts):
    import hashlib
    import math as m

    from feature_store_healthcare_spark.operators.text import hashed_tf

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["dim"]): (r["tf"], r["tf_l2"])
        for r in hashed_tf(df, "doc_id", "text", prefix_chars=2).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        counts: dict[str, int] = {}
        for tok in _normalize_py(t).split(" "):
            d = hashlib.md5(tok.encode()).hexdigest()[:2]
            counts[d] = counts.get(d, 0) + 1
        norm = m.sqrt(sum(v * v for v in counts.values()))
        for d, v in counts.items():
            want[(i, d)] = (v, round(v / norm, 6))
    assert got == want


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300), st.integers(0, 50)),
        min_size=1,
        max_size=20,
        unique_by=lambda r: r[2],
    ),
    gap=st.integers(1, 120),
)
def test_burst_dedup_matches_naive(spark, rows, gap):
    from feature_store_healthcare_spark.operators.dedup import burst_dedup

    data = [
        (eid, user, "t", BASE + timedelta(seconds=sec))
        for user, sec, eid in rows
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    kept = {
        r["event_id"]
        for r in burst_dedup(
            df, ["user_id", "event_type"], "ts", gap, tie_col="event_id"
        ).collect()
    }
    want = set()
    by_key: dict[int, list] = {}
    for user, sec, eid in rows:
        by_key.setdefault(user, []).append((sec, eid))
    for user, evs in by_key.items():
        evs.sort()
        prev = None
        for sec, eid in evs:
            if prev is None or sec - prev >= gap:
                want.add(eid)
            prev = sec
    assert kept == want


# random short documents over a tiny vocabulary — near-dups arise naturally
doc_texts = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
        min_size=1,
        max_size=10,
    ).map(" ".join),
    min_size=2,
    max_size=12,
)


@given(texts=doc_texts, max_hamming=st.integers(0, 4))
@SETTINGS
def test_simhash_pigeonhole_exact_vs_bruteforce(spark, texts, max_hamming):
    """The production 64-bit simhash candidate banding is EXACT by the
    pigeonhole principle on arbitrary corpora: pairs returned by the
    chunked candidate join + bit_count filter equal the O(n²) XOR scan,
    for every Hamming budget (chunk widths shift with the budget)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sig = dedup.simhash_signatures(docs, "doc_id", "text", bits=64, portable=False)
    sigs = {r.doc_id: r.simhash for r in sig.collect()}
    ids = sorted(sigs)
    expected = {
        (a, b, bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= max_hamming
    }
    got = {
        tuple(r)
        for r in dedup.simhash_pairs(
            docs, "doc_id", "text", bits=64, max_hamming=max_hamming
        ).collect()
    }
    assert got == expected


@given(texts=doc_texts)
@SETTINGS
def test_minhash_band_join_matches_naive_collisions(spark, texts):
    """lsh_pairs_from_bands returns exactly the pairs whose banded
    signatures collide on >=1 band — checked against a naive Python
    band-collision scan, for both join strategies."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sig = dedup.minhash_signatures(docs, "doc_id", "text", n=2, num_hashes=8)
    banded = dedup._banded_signatures(sig, "doc_id", 8, 4)
    rows = banded.collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.bkey, set()).add(r.doc_id)
    expected = {
        (a, b)
        for members in by_key.values()
        for a in members
        for b in members
        if a < b
    }
    for flag in (True, False):
        got = {
            tuple(r)
            for r in dedup.lsh_pairs_from_bands(
                banded, "doc_id", broadcast_candidates=flag
            ).collect()
        }
        assert got == expected


@given(
    toks=st.lists(st.integers(min_value=1, max_value=10_000), min_size=2, max_size=5),
    fracs=st.lists(st.floats(min_value=0.05, max_value=1.0), min_size=2, max_size=5),
    max_epochs=st.sampled_from([0.5, 1.0, 2.0, 4.0]),
)
@SETTINGS
def test_source_mix_plan_invariants(spark, toks, fracs, max_epochs):
    """Invariants of the training-mix planner against randomized
    availability/targets: (1) no group exceeds max_epochs; (2) at least
    one group BINDS at exactly max_epochs (it is the budget argmin);
    (3) allocations are proportional to the target shares — alloc/frac is
    the same budget for every group (so realized token shares match the
    targets exactly)."""
    from feature_store_healthcare_spark.operators import sampling

    n = min(len(toks), len(fracs))
    toks, fracs = toks[:n], fracs[:n]
    target = {f"g{i}": fracs[i] for i in range(n)}
    docs = spark.createDataFrame(
        [(f"g{i}", toks[i]) for i in range(n)], "lang string, n_tok long"
    )
    rows = sampling.source_mix_plan(
        docs, "lang", F.col("n_tok"), target, max_epochs=max_epochs
    ).collect()
    assert len(rows) == n
    budget = min(t * max_epochs / f for t, f in zip(toks, fracs))
    for r in rows:
        assert r.epochs <= max_epochs + 1e-6
        # proportionality: alloc/frac == budget (to output rounding)
        assert r.alloc_tokens == pytest.approx(budget * r.target_frac, abs=0.01)
    assert any(abs(r.epochs - max_epochs) < 1e-6 for r in rows)


#: random tiny corpora for the DSIR invariants: words from a 6-token
#: vocabulary (dim collisions likely), 2-6 docs, random target flags
_dsir_corpus = st.lists(
    st.tuples(
        st.lists(st.sampled_from(
            ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
        ), min_size=1, max_size=6),
        st.booleans(),
    ),
    min_size=2,
    max_size=6,
)


@given(corpus=_dsir_corpus, nparts=st.sampled_from([1, 3, 7]))
@SETTINGS
def test_dsir_weights_invariants(spark, corpus, nparts, tmp_path_factory):
    """DSIR invariants against randomized corpora: (1) weights are
    partitioning-invariant (the 6-decimal rounding absorbs float-sum
    order); (2) the stored build→append→fold→score path is bit-identical
    to the single-pass form on the same rows (integer statistics fold
    exactly); (3) every doc gets a finite weight and its exact token
    count."""
    import math

    from feature_store_healthcare_spark.operators import sampling

    rows = [
        (i, " ".join(words), bool(tgt)) for i, (words, tgt) in enumerate(corpus)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    tgt = F.col("tgt")
    base = {
        r.doc_id: (r.n_tokens, r.dsir_logratio)
        for r in sampling.dsir_logratio_weights(docs, "doc_id", "text", tgt).collect()
    }
    assert set(base) == {r[0] for r in rows}
    for did, (n_tok, w) in base.items():
        assert n_tok == len(rows[did][1].split())
        assert math.isfinite(w)
    repart = {
        r.doc_id: (r.n_tokens, r.dsir_logratio)
        for r in sampling.dsir_logratio_weights(
            docs.repartition(nparts), "doc_id", "text", tgt
        ).collect()
    }
    assert repart == base
    # stored twin: split the corpus arbitrarily, build + append, score all
    path = str(tmp_path_factory.mktemp("dsir_prop") / "dist")
    cut = len(rows) // 2
    sampling.build_dsir_dist(
        docs.where(F.col("doc_id") < cut), "text", tgt, path
    )
    sampling.append_dsir_dist(
        docs.where(F.col("doc_id") >= cut), "text", tgt, path
    )
    stored = {
        r.doc_id: (r.n_tokens, r.dsir_logratio)
        for r in sampling.dsir_score_from_dist(
            docs, path, "doc_id", "text"
        ).collect()
    }
    assert stored == base


# online index: one feature per value type the index must carry back
# exactly; the float64 feature is fed Python ints, the embedding a mix
_INDEX_FEATURES = {
    "n_int": ("int64", st.integers(-(2**40), 2**40)),
    "n_float": ("float64", st.integers(-1000, 1000)),
    "flag": ("bool", st.booleans()),
    "label": ("string", st.text(max_size=4)),
    "when": ("timestamp", st.datetimes(datetime(2000, 1, 1), datetime(2030, 1, 1))),
    "codes": ("array_string", st.lists(st.text(max_size=3), max_size=3)),
    "emb": (
        "embedding",
        st.lists(
            st.one_of(st.integers(-5, 5), st.floats(-1e3, 1e3, allow_nan=False)),
            min_size=2,
            max_size=2,
        ),
    ),
}

# (how, (feature, value), entity 0..2, event hour 0..3): hours collide on
# purpose, so writes land at equal and older event times than the incumbent
index_ops = st.lists(
    st.tuples(
        st.sampled_from(["write", "ingest", "bulk"]),
        st.one_of(*[st.tuples(st.just(n), s) for n, (_, s) in _INDEX_FEATURES.items()]),
        st.integers(0, 2),
        st.integers(0, 3),
    ),
    min_size=1,
    max_size=6,
)


def _same(a, b) -> bool:
    """Equal values of the same Python type, elementwise for lists."""
    if type(a) is not type(b):
        return False
    if isinstance(a, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


@given(ops=index_ops)
@example(ops=[
    ("write", ("n_int", 5), 0, 2),
    ("write", ("n_int", 6), 0, 2),  # equal event time: the later write wins
    ("write", ("n_int", 1), 0, 1),  # older than the incumbent: ignored
    ("ingest", ("emb", [1, 2.5]), 0, 3),
    ("bulk", ("label", "x"), 1, 3),
    ("write", ("label", "y"), 1, 3),
])
@SETTINGS
def test_online_index_matches_latest_per_key(spark, tmp_path_factory, ops):
    """After every step of a random interleaving of server writes, direct
    registry ingests and bulk ingests, each touched entity's online read
    equals a from-scratch latest_per_key over the value store (values,
    Python types, timestamps); a patched row reads back identically after
    the index is dropped and rebuilt."""
    from feature_store_healthcare_spark.registry import (
        SLOT_FOR,
        VALUES_SCHEMA,
        FeatureRegistry,
        FeatureSchema,
        FeatureSource,
        FeatureStatus,
        FeatureValueType,
    )
    from feature_store_healthcare_spark.serving import FeatureServer

    reg = FeatureRegistry(spark, storage_dir=str(tmp_path_factory.mktemp("online_index")))
    feats = {}
    for name, (vtype, _) in _INDEX_FEATURES.items():
        vt = FeatureValueType(vtype)
        feats[name] = reg.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=vt, entity_type="patient",
                                 embedding_dim=2 if name == "emb" else None),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
        )
    srv = FeatureServer(reg)
    names = list(_INDEX_FEATURES)
    touched: list[str] = []
    for step, (how, (name, value), ent, hour) in enumerate(ops):
        entity, ts, f = f"p{ent}", BASE + timedelta(hours=hour), feats[name]
        if how == "write":
            srv.write_features(entity, "patient", {name: value}, timestamp=ts)
        elif how == "ingest":
            reg.ingest_feature_value(f.feature_id, entity, value, event_timestamp=ts)
        else:
            row = {n: None for n in VALUES_SCHEMA.fieldNames()}
            slot = SLOT_FOR[f.schema.value_type]
            row.update(feature_id=f.feature_id, feature_name=name, entity_type="patient",
                       entity_id=entity, event_timestamp=ts, created_timestamp=BASE,
                       seq=1000 + step)
            row[slot] = [float(x) for x in value] if name == "emb" else (
                float(value) if name == "n_float" else value)
            reg.ingest_values_df(spark.createDataFrame([tuple(row.values())], VALUES_SCHEMA))
        if entity not in touched:
            touched.append(entity)
        want = {
            (r.feature_id, r.entity_id): r
            for r in latest_per_key(reg.values_df(), ["feature_id", "entity_id"],
                                    "event_timestamp",
                                    tiebreak=["created_timestamp", "seq"]).collect()
        }
        for e in touched:
            vec = srv.get_online_features(e, "patient", names)
            for n in names:
                r = want.get((feats[n].feature_id, e))
                exp = (None, None) if r is None else (
                    r[SLOT_FOR[feats[n].schema.value_type]], r["event_timestamp"])
                got = (vec.features[n], vec.timestamps[n])
                assert _same(got[0], exp[0]) and _same(got[1], exp[1]), (step, e, n, got, exp)
    patched = {e: srv._online_index().rows_for(e) for e in touched}
    srv.invalidate_online_cache()
    rebuilt = {e: srv._online_index().rows_for(e) for e in touched}
    for e in touched:
        assert patched[e].keys() == rebuilt[e].keys()
        for fid, row in patched[e].items():
            assert row.keys() == rebuilt[e][fid].keys()
            assert all(_same(row[c], rebuilt[e][fid][c]) for c in row), (row, rebuilt[e][fid])
