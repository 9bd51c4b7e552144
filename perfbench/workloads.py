"""The two workloads.  Each one has a ``setup`` that builds a fresh state
from the seed (called several times per run, each time on a new session)
and a ``measure`` that drives a closed loop of one client through a fixed
amount of work sized from the run's seconds, checks every answer and returns
a :class:`Result`.

Every call into the program goes through its public functions and sits
inside a span (``Run.tracer``), so a traced run can split the time by layer.
"""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field
from datetime import timedelta
from pathlib import Path

import numpy as np

import checks
import datagen as gen
from datagen import BASE_TIME, ENTITY_TYPE, FEATURES, HISTORY_DAYS, PIT_FEATURES, size
from stats import median


@dataclass
class Result:
    """What one measured phase did.  ``latencies_ms`` are the per-request
    times the p50 is taken over; ``items_per_s`` the workload's throughput;
    ``named`` the workload's own metrics by name."""

    latencies_ms: list[float] = field(default_factory=list)
    items_per_s: float = 0.0
    elapsed_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    ops: dict[int, str] = field(default_factory=dict)  # op id -> op type
    tails: dict[str, list[float]] = field(default_factory=dict)  # samples for tail percentiles

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def iterations(seconds: float, nominal_s: float, least: int = 1) -> int:
    """Whole iterations a batch-like workload runs: ``seconds`` of work at
    the iteration's nominal length on a 4-core host, at least ``least``.  A
    fixed count, not a time limit, so a run never flips between n and n+1
    passes on a small speed change."""
    return max(least, round(seconds / nominal_s))


class Run:
    """State shared by a run's set-ups and phases."""

    def __init__(self, seed: int, work: Path, tracer) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None


def _register(registry) -> dict[str, str]:
    from feature_store_healthcare_spark.registry import (
        FeatureSchema, FeatureSource, FeatureStatus, FeatureValueType,
    )

    ids = {}
    for name, vtype, category, phi, roles in FEATURES:
        f = registry.register_feature(
            name,
            FeatureSchema(name, FeatureValueType(vtype), category=category,
                          entity_type=ENTITY_TYPE),
            FeatureSource(source_type="batch", refresh_frequency="daily"),
            owner="perfbench",
            phi_level=phi,
            access_roles=roles,
            status=FeatureStatus.ACTIVE,
        )
        ids[name] = f.feature_id
    return ids


def _read_values(spark, path: str):
    from feature_store_healthcare_spark.registry import VALUES_SCHEMA

    return spark.read.schema(VALUES_SCHEMA).parquet(path)


class _StoreWorkload:
    """Set-up shared by the workloads that serve from the registry: register
    the catalog, generate and ingest the history, make a FeatureServer."""

    population = size("online_entities")

    def __init__(self, run: Run) -> None:
        self.run = run

    def setup(self, i: int) -> None:
        from feature_store_healthcare_spark.registry import FeatureRegistry
        from feature_store_healthcare_spark.serving import FeatureServer

        run, tr = self.run, self.run.tracer
        base = run.work / f"setup{i}"
        base.mkdir(parents=True)
        self.registry = FeatureRegistry(run.spark, storage_dir=str(base / "store"))
        with tr.span("registry.register_feature"):
            self.feature_ids = _register(self.registry)
        with tr.span("datagen.history"):
            self.history = gen.history(run.seed, self.feature_ids, self.population)
            self.history_path = str(base / "history.parquet")
            gen.write_parquet(self.history, self.history_path)
        with tr.span("registry.ingest_values_df", rows=self.history.num_rows):
            self.registry.ingest_values_df(_read_values(run.spark, self.history_path))
        self.server = FeatureServer(self.registry)
        self.base = base

    def latest_model(self) -> gen.LatestModel:
        model = gen.LatestModel()
        model.add_table(self.history)
        return model


class OnlineWriteMix(_StoreWorkload):
    """get_online_features on Zipf-drawn patients with a write_features call
    to a Zipf-drawn patient every ``write_every`` ops."""

    write_every = size("write_every")
    #: ops per second of --seconds: about the ops a 4-core host completes in
    #: that time.  A fixed count keeps the number of writes, and so of table
    #: rebuilds, the same in every run.
    ops_per_s = 10
    warm_reads = 32

    def setup(self, i: int) -> None:
        super().setup(i)
        # one read of a patient the measured sequence never draws: the lazy
        # online-table build lands here, in set-up, not in the first timed read
        self._read_unknown("warmup")

    def _read_unknown(self, entity: str, expect_hr: float | None = None) -> None:
        names = [f[0] for f in FEATURES]
        with self.run.tracer.span("serving.get_online_features", warmup=True):
            vec = self.server.get_online_features(
                entity, ENTITY_TYPE, names, user_id="perfbench", user_roles=gen.READ_ROLES)
        if vec.features["heart_rate"] != expect_hr or vec.features["age_years"] is not None:
            raise RuntimeError(f"warm-up read of patient {entity!r} returned {vec.features}")

    def warm_up(self, keys: list[str], model: gen.LatestModel) -> None:
        """Untimed, before the measured ops: misses on patients the measured
        sequence never draws until the JVM has compiled the miss path (the
        first ~30 misses of a fresh JVM run up to 2x slower), then one write
        and the table rebuild it causes, then a second write whose rebuild
        falls to the first measured miss, so every window of
        ``write_every`` measured ops holds one rebuild and one write."""
        names = [f[0] for f in FEATURES]
        drawn = set(keys)
        others = (gen.entity_id(i) for i in range(self.population))
        for entity in [e for e in others if e not in drawn][: self.warm_reads]:
            vec = self.server.get_online_features(
                entity, ENTITY_TYPE, names, user_id="perfbench", user_roles=gen.READ_ROLES)
            if [vec.features[n] for n in names] != [model.get(n, entity)[0] for n in names]:
                raise RuntimeError(f"warm-up read of {entity} returned {vec.features}")
        with self.run.tracer.span("serving.write_features", warmup=True):
            self.server.write_features(
                "warmup", ENTITY_TYPE, {"heart_rate": 70.0},
                timestamp=BASE_TIME + timedelta(days=HISTORY_DAYS))
        self._read_unknown("warmup", expect_hr=70.0)
        with self.run.tracer.span("serving.write_features", warmup=True):
            self.server.write_features(
                "warmup", ENTITY_TYPE, {"heart_rate": 71.0},
                timestamp=BASE_TIME + timedelta(days=HISTORY_DAYS, seconds=1))

    def measure(self, seconds: float) -> Result:
        run, tr, srv = self.run, self.run.tracer, self.server
        names = [f[0] for f in FEATURES]
        model = self.latest_model()
        n_ops = max(self.write_every, round(seconds * self.ops_per_s))
        keys = gen.key_sequence(run.seed, n_ops, self.population, size("zipf_exponent"))
        rng = np.random.default_rng(run.seed + 99)
        self.warm_up(keys, model)
        srv.reset_metrics()
        res = Result()
        reads, writes, after_write = [], [], []
        hits, misses = [], []
        values_df_ms, buffered = [], 0
        rebuild_pending = False  # a write dropped the online table
        # a window is write_every ops ending in a write; items_per_s is the
        # median window's rate, so one slow rebuild or a burst of host noise
        # moves it less than a whole-run average would
        window_rates = []
        start = time.perf_counter()
        for i, entity in enumerate(keys):
            if i % self.write_every == 0:
                window_t0, window_ops = time.perf_counter(), 0
            op = tr.new_op()
            res.attempted += 1
            if (i + 1) % self.write_every == 0:
                res.ops[op] = "write"
                value = float(np.round(rng.normal(75.0, 12.0), 1))
                ts = BASE_TIME + timedelta(days=HISTORY_DAYS + 1, seconds=i)
                t0 = time.perf_counter()
                try:
                    with tr.span("serving.write_features", op_id=op):
                        srv.write_features(entity, ENTITY_TYPE, {"heart_rate": value}, timestamp=ts)
                except Exception:
                    res.fail(f"write {entity}: {traceback.format_exc(limit=3)}")
                    continue
                writes.append((time.perf_counter() - t0) * 1000)
                window_ops += 1
                window_rates.append(window_ops / (time.perf_counter() - window_t0))
                # the registry orders equal event times by (created, seq);
                # this write is the only one at ts, so it is the latest
                model.add("heart_rate", entity, ts, ts, 1 << 62, value)
                rebuild_pending = True
                if tr.enabled:
                    t1 = time.perf_counter()
                    with tr.span("registry.values_df", op_id=op):
                        self.registry.values_df()
                    values_df_ms.append((time.perf_counter() - t1) * 1000)
                    buffered = len(self.registry._buffer)
                continue
            res.ops[op] = "read"
            t0 = time.perf_counter()
            try:
                with tr.span("serving.get_online_features", op_id=op) as sp:
                    vec = srv.get_online_features(
                        entity, ENTITY_TYPE, names, user_id="perfbench", user_roles=gen.READ_ROLES
                    )
                    if sp is not None:
                        sp.attrs["cache_hit"] = vec.cache_hit
            except Exception:
                res.fail(f"read {entity}: {traceback.format_exc(limit=3)}")
                continue
            ms = (time.perf_counter() - t0) * 1000
            reads.append(ms)
            window_ops += 1
            (hits if vec.cache_hit else misses).append(ms)
            if rebuild_pending and not vec.cache_hit:
                # the first read that reaches the table rebuilds it
                after_write.append(ms)
                rebuild_pending = False
            wrong = [
                n for n in names
                if (vec.features.get(n), vec.timestamps.get(n)) != model.get(n, entity)
            ]
            if wrong:
                res.fail(f"read {entity}: wrong {wrong}: {[vec.features[n] for n in wrong]}"
                         f" != {[model.get(n, entity)[0] for n in wrong]}")
        res.elapsed_s = time.perf_counter() - start
        res.latencies_ms = reads
        if not reads or not window_rates:
            return res
        res.items_per_s = median(window_rates)
        metrics = srv.get_metrics()
        named = res.named
        named["read_p50_ms"] = (median(reads), "ms")
        named["online_ops_per_s"] = ((len(reads) + len(writes)) / res.elapsed_s, "1/s")
        named["online_windows"] = (len(window_rates), f"of {self.write_every} ops")
        named["serving.cache_hit_ratio"] = (metrics["cache_hit_rate"], f"of {metrics['cache_hits'] + metrics['cache_misses']} reads")
        if hits:
            named["serving.hit_ms_p50"] = (median(hits), "ms")
        if misses:
            named["serving.miss_ms_p50"] = (median(misses), "ms")
        res.tails = {"read": reads, "serving.miss": misses, "write": writes}
        if writes:
            named["write_p50_ms"] = (median(writes), "ms")
            named["serving.write_ms_p50"] = (median(writes), "ms")
        if after_write:
            named["serving.read_after_write_ms_p50"] = (median(after_write), "ms")
        if values_df_ms:
            named["registry.values_df_ms"] = (median(values_df_ms), "ms")
            named["registry.buffered_rows"] = (buffered, "rows")
        return res


class DailyBatch(_StoreWorkload):
    """One day of the offline work per iteration: the feature pipeline
    (ingest the day, build the point-in-time training set, read an offline
    entity batch, report freshness, export the online KV table and probe
    it), then the curation pass over the day's clinical-notes corpus."""

    population = size("batch_entities")
    #: a day's length on a 4-core host; a run does at least two days, and
    #: reports their median
    nominal_s = 10.0
    least_days = 2

    def __init__(self, run: Run) -> None:
        super().__init__(run)
        self.curation = Curation(run)

    def setup(self, i: int) -> None:
        super().setup(i)
        self.curation.setup(self.base)

    def measure(self, seconds: float) -> Result:
        from feature_store_healthcare_spark.operators.pit import latest_per_key
        from feature_store_healthcare_spark.registry import SLOT_FOR
        from feature_store_healthcare_spark.stores import export_online_kv, kv_point_get

        run, tr, srv, spark = self.run, self.run.tracer, self.server, self.run.spark
        model = self.latest_model()
        value_files = [self.history_path]
        seq = self.history.num_rows
        slot_of = {f.name: SLOT_FOR[f.schema.value_type] for f in self.registry.list_features()}
        res = Result()
        steps = {k: [] for k in ("ingest", "pit_build", "pit_exec", "offline", "latest",
                                 "export", "kv_get", *Curation.STEPS)}
        recall_pairs = [0, 0]
        recall_ivf = [0, 0]
        ingest_rows = train_rows = docs = 0
        busy = 0.0
        days = iterations(seconds, self.nominal_s, self.least_days)
        for day in range(HISTORY_DAYS, HISTORY_DAYS + days):
            # -- inputs for this day (not timed) --
            rng = np.random.default_rng(run.seed * 31 + day)
            day_tab = gen.day_batch(run.seed, self.feature_ids, self.population, day, seq)
            seq += day_tab.num_rows
            day_path = str(self.base / f"day{day}.parquet")
            gen.write_parquet(day_tab, day_path)
            end = BASE_TIME + timedelta(days=day + 1)
            spine_tab = gen.spine(run.seed * 17 + day, self.population, size("spine_rows"), end)
            spine_path = str(self.base / f"spine{day}.parquet")
            gen.write_parquet(spine_tab, spine_path)
            spine_df = spark.read.parquet(spine_path)
            offline_ids = [gen.entity_id(int(e)) for e in rng.choice(
                self.population, size("offline_entities"), replace=False)]
            probe_ids = [gen.entity_id(int(e)) for e in rng.choice(
                self.population, size("kv_probes"), replace=False)]
            kv_path = str(self.base / "kv")
            c, corpus_df, queries, want_topk = self.curation.inputs(day, size("corpus_docs"))
            res.attempted += 1
            op = tr.new_op()
            res.ops[op] = "day"
            t_batch = time.perf_counter()
            try:
                t = time.perf_counter()
                with tr.span("batch.ingest", op_id=op):
                    with tr.span("registry.ingest_values_df", rows=day_tab.num_rows):
                        self.registry.ingest_values_df(_read_values(spark, day_path))
                    with tr.span("serving.invalidate_online_cache"):
                        srv.invalidate_online_cache()
                steps["ingest"].append(time.perf_counter() - t)

                t = time.perf_counter()
                with tr.span("batch.pit", op_id=op):
                    with tr.span("serving.get_point_in_time_features"):
                        train = srv.get_point_in_time_features(spine_df, PIT_FEATURES)
                    t_exec = time.perf_counter()
                    with tr.span("spark.action", step="pit"):
                        train.write.format("noop").mode("overwrite").save()
                steps["pit_build"].append(t_exec - t)
                steps["pit_exec"].append(time.perf_counter() - t_exec)

                t = time.perf_counter()
                with tr.span("batch.offline", op_id=op):
                    with tr.span("serving.get_offline_features"):
                        offline = srv.get_offline_features(
                            offline_ids, ENTITY_TYPE, PIT_FEATURES, event_timestamp=end)
                    with tr.span("spark.action", step="offline"):
                        offline_rows = offline.collect()
                steps["offline"].append(time.perf_counter() - t)

                t = time.perf_counter()
                with tr.span("batch.export", op_id=op):
                    with tr.span("serving.freshness_report"):
                        report = srv.freshness_report(now=end)
                    with tr.span("spark.action", step="latest"):
                        fresh = {r["freshness"]: r["count"] for r in
                                 report.groupBy("freshness").count().collect()}
                    steps["latest"].append(time.perf_counter() - t)
                    t = time.perf_counter()
                    with tr.span("operators.pit.latest_per_key"):
                        latest = latest_per_key(
                            self.registry.values_df(), ["feature_id", "entity_id"],
                            "event_timestamp", tiebreak=["created_timestamp", "seq"])
                    with tr.span("stores.export_online_kv"):
                        export_online_kv(latest, kv_path)
                    steps["export"].append(time.perf_counter() - t)
                    kv_rows = {}
                    for e in probe_ids:
                        t = time.perf_counter()
                        with tr.span("stores.kv_point_get"):
                            kv_rows[e] = kv_point_get(spark, kv_path, ENTITY_TYPE, e).collect()
                        steps["kv_get"].append(time.perf_counter() - t)
                with tr.span("batch.curation", op_id=op):
                    curated = self.curation.run_pass(c, corpus_df, queries, steps)
            except Exception:
                res.fail(f"batch day {day}: {traceback.format_exc(limit=4)}")
                busy += time.perf_counter() - t_batch
                continue
            took = time.perf_counter() - t_batch
            busy += took
            res.latencies_ms.append(took * 1000)
            ingest_rows += day_tab.num_rows
            train_rows += spine_tab.num_rows
            docs += len(c.ids)

            # -- answer checks (not timed) --
            model.add_table(day_tab)
            value_files.append(day_path)
            wrong = self._check(train, value_files, spine_path, offline_rows, offline_ids,
                                fresh, kv_rows, model, end, slot_of)
            wrong += Curation.check(c, curated, want_topk, recall_pairs, recall_ivf)
            if wrong:
                res.fail(f"batch day {day}: {wrong}")
        res.elapsed_s = busy
        if not res.latencies_ms:
            return res
        res.items_per_s = (train_rows + docs) / busy
        named = res.named
        named["batch_s"] = (median(res.latencies_ms) / 1000, "s")
        named["training_rows_per_s"] = (
            train_rows / sum(steps["pit_build"] + steps["pit_exec"]), "rows/s")
        named["ingest_rows_per_s"] = (ingest_rows / sum(steps["ingest"]), "rows/s")
        for name, step, scale, unit in (
            ("registry.ingest_s", "ingest", 1, "s"),
            ("serving.pit_build_ms", "pit_build", 1000, "ms"),
            ("pit.asof_exec_s", "pit_exec", 1, "s"),
            ("serving.offline_s", "offline", 1, "s"),
            ("pit.latest_s", "latest", 1, "s"),
            ("stores.kv_export_s", "export", 1, "s"),
            ("stores.kv_get_ms_p50", "kv_get", 1000, "ms"),
        ):
            named[name] = (median(steps[step]) * scale, unit)
        self.curation.report(named, steps, docs, recall_pairs, recall_ivf)
        return res

    def _check(self, train, value_files, spine_path, offline_rows, offline_ids, fresh,
               kv_rows, model, end, slot_of) -> list[str]:
        wrong = []
        cols = checks.pit_columns()
        got = checks.rows_hash(tuple(r) for r in train.select(*cols).collect())
        want, _ = checks.pit_oracle_hash(value_files, spine_path)
        if got != want:
            wrong.append("point-in-time training set differs from the DuckDB oracle")
        by_entity = {r["entity_id"]: r for r in offline_rows}
        if sorted(by_entity) != sorted(offline_ids):
            wrong.append("offline batch returned other entities")
        for e, r in by_entity.items():
            for n in PIT_FEATURES:
                if (r[n], r[f"{n}__timestamp"]) != model.get(n, e):
                    wrong.append(f"offline {e}.{n}")
        want_fresh = model.freshness_counts(end, self.server.config.freshness_sla_seconds,
                                            self.server.config.stale_threshold_seconds)
        if {k: v for k, v in want_fresh.items() if v} != fresh:
            wrong.append(f"freshness {fresh} != {want_fresh}")
        for e, rows in kv_rows.items():
            got_kv = {r["feature_name"]: (r[slot_of[r["feature_name"]]], r["event_timestamp"])
                      for r in rows}
            want_kv = {n: model.get(n, e) for n, *_ in FEATURES if model.get(n, e)[1] is not None}
            if got_kv != want_kv:
                wrong.append(f"kv {e}")
        return wrong[:5]


class Curation:
    """The LLM-data half of a day: quality signals, exact dedup, MinHash-LSH
    near-dup pairs, BM25, exact BLAS top-k and an IVF probe, over a fresh
    generated corpus each day (so no operator cache is reused between
    days)."""

    STEPS = ("quality", "exact", "minhash", "bm25", "topk_blas", "ivf")

    def __init__(self, run: Run) -> None:
        self.run = run

    def setup(self, base: Path) -> None:
        """Embeddings and the IVF index over them, under ``base``."""
        from feature_store_healthcare_spark.operators.similarity import build_ivf_index
        from feature_store_healthcare_spark.queries import ensure_worker_imports

        run, tr, spark = self.run, self.run.tracer, self.run.spark
        ensure_worker_imports(spark)
        with tr.span("datagen.embeddings"):
            self.vecs = gen.embeddings(run.seed, size("embeddings"), size("embedding_dim"))
            emb_path = str(base / "embeddings.parquet")
            gen.write_parquet(gen.embedding_table(self.vecs, "vec_id"), emb_path)
        self.emb = spark.read.parquet(emb_path)
        self.ivf_path = str(base / "ivf")
        with tr.span("similarity.build_ivf_index"):
            self.centroids = build_ivf_index(
                self.emb, self.ivf_path, n_centroids=size("ivf_lists"), corpus_id="vec_id",
                refine_rounds=size("ivf_refine_rounds"))
        self.base = base

    def inputs(self, n: int, docs: int):
        """Corpus ``n`` of the run as a DataFrame, its query vectors and
        their exact top-k (made before the pass, not timed)."""
        from pyspark.sql import functions as F

        run = self.run
        c = gen.corpus(run.seed * 101 + n, docs, docs // 20, docs // 20)
        path = str(self.base / f"corpus{n}.parquet")
        gen.write_parquet(gen.corpus_table(c), path)
        q_ids = np.sort(np.random.default_rng(run.seed * 7 + n).choice(
            len(self.vecs), size("queries"), replace=False))
        queries = self.emb.where(F.col("vec_id").isin([int(q) for q in q_ids])) \
            .withColumnRenamed("vec_id", "query_id")
        want = checks.exact_topk(self.vecs[q_ids], q_ids, self.vecs, size("top_k"))
        return c, run.spark.read.parquet(path), queries, want

    def run_pass(self, c, df, queries, steps: dict[str, list[float]]) -> dict:
        """The six operators over one corpus; each one's time goes to
        ``steps``."""
        from pyspark.sql import functions as F

        from feature_store_healthcare_spark.operators import dedup, retrieval, similarity, text

        tr, k = self.run.tracer, size("top_k")
        out = {}
        calls = (
            ("quality", "text.quality_features", lambda: text.quality_features(
                df, "doc_id", "text").agg(F.count("*").alias("n")).collect()[0]["n"]),
            ("exact", "dedup.exact_dedup_keep_min", lambda: dedup.exact_dedup_keep_min(
                df.select("doc_id", "text", text.fingerprint("text").alias("fp")),
                ["fp"], "doc_id").count()),
            ("minhash", "dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(
                df, "doc_id", "text").collect()),
            ("bm25", "retrieval.bm25_topk", lambda: retrieval.bm25_topk(
                df, "doc_id", "text", c.queries, k=k).collect()),
            ("topk_blas", "similarity.cosine_topk_blas", lambda: similarity.cosine_topk_blas(
                queries, self.emb, k=k).collect()),
            ("ivf", "similarity.ivf_topk_from_index", lambda: similarity.ivf_topk_from_index(
                self.run.spark, self.ivf_path, queries, k=k, centroids=self.centroids).collect()),
        )
        for step, span, call in calls:
            t = time.perf_counter()
            with tr.span(span):
                out[step] = call()
            steps[step].append(time.perf_counter() - t)
        return out

    @staticmethod
    def check(c, out, want_topk, recall_pairs, recall_ivf) -> list[str]:
        wrong = []
        if out["quality"] != len(c.ids):
            wrong.append(f"quality rows {out['quality']} != {len(c.ids)}")
        if len(c.ids) - out["exact"] != c.planted_exact:
            wrong.append(f"exact duplicates {len(c.ids) - out['exact']} != planted {c.planted_exact}")
        found = {(min(r[0], r[1]), max(r[0], r[1])) for r in out["minhash"]}
        recall_pairs[0] += len(found & c.near_pairs)
        recall_pairs[1] += len(c.near_pairs)
        if not out["bm25"]:
            wrong.append("bm25 returned nothing")
        got_topk = {}
        for r in sorted(out["topk_blas"], key=lambda r: (r["query_id"], r["rank"])):
            got_topk.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
        if got_topk != want_topk:
            bad = [q for q in want_topk if got_topk.get(q) != want_topk[q]]
            wrong.append(f"cosine_topk_blas differs from NumPy top-k for queries {bad[:5]}")
        got_ivf = {}
        for r in out["ivf"]:
            got_ivf.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        for qid, ids in want_topk.items():
            recall_ivf[0] += len(got_ivf.get(qid, set()) & set(ids))
            recall_ivf[1] += len(ids)
        return wrong

    @staticmethod
    def report(named: dict, steps: dict[str, list[float]], docs: int, recall_pairs,
               recall_ivf) -> None:
        """The curation figures of a run, into ``named``."""
        named["corpus_docs_per_s"] = (
            docs / sum(sum(steps[s]) for s in Curation.STEPS), "docs/s")
        for step, name in (("quality", "text.quality_s"), ("exact", "dedup.exact_s"),
                           ("minhash", "dedup.minhash_s"), ("bm25", "retrieval.bm25_s"),
                           ("topk_blas", "similarity.topk_blas_s"),
                           ("ivf", "similarity.ivf_probe_s")):
            if steps[step]:
                named[name] = (median(steps[step]), "s")
        if recall_pairs[1]:
            named["dedup.planted_dup_recall"] = (
                recall_pairs[0] / recall_pairs[1], f"of {recall_pairs[1]} planted pairs")
        if recall_ivf[1]:
            named["similarity.ivf_recall_at_k"] = (
                recall_ivf[0] / recall_ivf[1], f"of {recall_ivf[1]} exact neighbours")


WORKLOADS = {
    "online_write_mix": OnlineWriteMix,
    "daily_batch": DailyBatch,
}
