"""The benchmark's workloads. Each is a single-client closed loop: the next
op starts when the previous one has returned. ``--seed`` only shapes the
op order and the app script; the data is the engine's fixture tables.

A workload is a class with three phases, called by ``run.py``:

- ``setup()``: session start plus the warm-up pass, timed as ``setup_s``;
- ``run_timed(seconds)``: whole rounds of the seeded script, as many as
  fit in ``seconds`` at the workload's nominal round time, every op timed;
- ``check()``: output checks, outside the timed window.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

from tracing import median

#: The app's short read queries (registered query fns, forced by a noop
#: write). Their cost is driver planning, job scheduling and parquet scans.
POOL = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "flagship_top_orders",
    "t1_topk_orders",
    "j1_inner_join_agg",
    "j2_left_join_agg",
    "a1_a4_global_aggs",
    "d1_month_rollup",
    "ml_rating_stats",
    "ml_user_unlock_gate",
    "ml_latest_rating_dedup",
    "x_knn_cosine_topk",
    "x_text_quality",
)

POPULAR = "flagship_top_orders"
INGEST_GATE = "s14_stream_anomaly"
TOP_N = 10
#: Ratings per app user. Fixed, so every round has the same op count: a
#: count drawn per seed (the app's 8–15) moved ``ops_per_s`` by ~50%.
RATINGS_PER_USER = 10
_RATING_VALUES = [1.0 + 0.5 * i for i in range(9)]


class Workload:
    """Shared plumbing: the session, the registry, op timing and failures."""

    def __init__(self, spark_factory, sf_dir: str, work: str, seed: int, tracer) -> None:
        self.spark_factory = spark_factory
        self.sf_dir = sf_dir
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.spark = None
        self.specs = None
        #: (kind, name, ms, ok) of every timed op.
        self.ops: list[tuple[str, str, float, bool]] = []
        self.failures: list[str] = []
        self.phase: dict[str, float] = {}
        self.timed_window: tuple[float, float] | None = None

    # -- engine calls ----------------------------------------------------
    def start_session(self) -> None:
        from recommender_systems_pyspark_spark.registry import all_queries

        t0 = time.perf_counter()
        with self.tracer.span("get_spark", "session"):
            self.spark = self.spark_factory()
        self.phase["session.start_s"] = time.perf_counter() - t0
        self.specs = all_queries()
        self.tracer.attach_listener(self.spark)

    def query(self, name: str, collect: bool):
        """Build a registered query and force it; returns rows as pandas
        when ``collect`` (checked later), else forces with a noop write."""
        with self.tracer.span(name, "registry"):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        with self.tracer.span(name, "action", collect=collect) as sp:
            if collect:
                out = df.toPandas()
                if sp is not None:
                    sp["rows"] = len(out)
                return out
            df.write.format("noop").mode("overwrite").save()
            return None

    def timed_op(self, kind: str, name: str, fn):
        """Run one op of the closed loop; a raised error is a failed op."""
        ok, out = True, None
        with self.tracer.op(self.spark, name, kind):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 - any engine error fails the op
                ok = False
                self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            dt = (time.perf_counter() - t0) * 1000.0
        self.ops.append((kind, name, dt, ok))
        return ok, out

    def run_timed(self, seconds: float) -> None:
        """Whole rounds, as many as fit in ``seconds`` at the workload's
        nominal round time (at least one). The count depends only on
        ``seconds``, so every run of a workload does the same work."""
        rounds = max(1, int(seconds / self.round_s + 0.5))
        t0 = time.perf_counter()
        w0 = time.time()
        for i in range(rounds):
            self.round(i)
        self.phase["wall_s"] = time.perf_counter() - t0
        self.phase["rounds"] = rounds
        self.timed_window = (w0, time.time())

    def oracle_check(self, name: str, got) -> bool:
        from tools.verify_local import compare, duck_con

        con = duck_con(self.sf_dir)
        try:
            want = con.execute(self.specs[name].oracle).fetchdf()
        finally:
            con.close()
        errs = compare(name, got, want)
        if errs:
            self.failures.append(f"{name}: oracle mismatch: {errs[:2]}")
        return not errs

    # -- metrics -----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        # Reads only: a median over a mix of reads and writes falls at the
        # edge between the two latency clusters and jumps between them.
        reads = [ms for k, _, ms, _ in self.ops if k == "read"]
        return {
            "ops_per_s": len(self.ops) / self.phase["wall_s"],
            "read_p50_ms": median(reads),
        }

    def per_op(self) -> dict[str, float]:
        out = {}
        for q in POOL:
            xs = [ms for _, n, ms, _ in self.ops if n == q]
            out[f"op.{q}_ms"] = median(xs)
        return out

    def attempted_failed(self) -> tuple[int, int]:
        return len(self.ops), sum(1 for *_, ok in self.ops if not ok)


class InteractiveSql(Workload):
    """Seeded rounds over the pool of short registered read queries."""

    name = "interactive_sql"
    sf = 0.01
    round_s = 8.0  # one pass over POOL, 4 cores

    def setup(self) -> None:
        self.start_session()
        # Warm-up pass: every distinct query once, collected — JIT, codegen
        # and parquet footers are warm before timing, and these rows are
        # what check() compares with the oracle.
        t0 = time.perf_counter()
        self.results = {}
        for q in POOL:
            with self.tracer.span(q, "warmup"):
                self.results[q] = self.query(q, collect=True)
        self.phase["session.warmup_s"] = time.perf_counter() - t0

    def round(self, i: int) -> None:
        order = list(POOL)
        self.rng.shuffle(order)
        for q in order:
            self.timed_op("read", q, lambda q=q: self.query(q, collect=False))

    def check(self) -> None:
        bad = {q for q in POOL if not self.oracle_check(q, self.results[q])}
        # A wrong answer fails every timed execution of that query.
        self.ops = [(k, n, ms, ok and n not in bad) for k, n, ms, ok in self.ops]

    def result_rows(self) -> dict[str, int]:
        return {q: len(df) for q, df in self.results.items()}


def item_pool(sf_dir: str) -> tuple[list[str], list[int]]:
    """Item ids the app can rate and how often each occurs among the rating
    events (the rows ``ml.ratings.ratings_from_events`` keeps), read with
    pyarrow, so the script does not depend on the engine."""
    import json
    from collections import Counter

    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_type", "props"])
    counts = Counter(
        str(json.loads(p)["k"])
        for t, p in zip(ev["event_type"].to_pylist(), ev["props"].to_pylist())
        if t in ("view", "click", "purchase")
    )
    items = sorted(counts, key=int)
    return items, [counts[i] for i in items]


class RecsysApp(Workload):
    """The reference app's loop over ``ml.users.UserStore`` and ALS.

    A round is one user: ``create_user``; ``RATINGS_PER_USER``
    ``add_rating`` calls on items drawn with the event pool's own item
    frequencies, each followed by a read of the user's latest ratings and
    of the unlock-gate count (latest ratings the user has); the popular
    list; the streaming ingest gate over the event feed; a retrain on
    events ∪ store ratings, top-N and publish; and the user's read of their
    top-N recommendations.
    One user per retrain keeps a round inside the benchmark's time budget.
    """

    name = "recsys_app"
    sf = 0.01
    round_s = 40.0  # one user, ingest gate and retrain, 4 cores

    def setup(self) -> None:
        from recommender_systems_pyspark_spark.ml.users import UserStore

        self.start_session()
        t0 = time.perf_counter()
        root = os.path.join(self.work, "store")
        shutil.rmtree(root, ignore_errors=True)
        self.store = UserStore(self.spark, root)
        with self.tracer.span("setup", "ml.users"):
            self.store.setup()
        self.recs_path = os.path.join(self.work, "recs")
        shutil.rmtree(self.recs_path, ignore_errors=True)
        # App users rate items as often as the event stream touches them.
        self.items, self.item_w = item_pool(self.sf_dir)
        self.model: dict[str, dict[str, float]] = {}  # username -> latest
        self.user_ids: dict[str, str] = {}
        self.acked: list[tuple[str, str, float]] = []
        self.trained_users: set[str] = set()
        self.recs_reads: list[tuple[str, bool, list]] = []  # user, trained, rows
        self.retrains: list[dict] = []
        self.popular = None
        self.gate = None
        # Warm-up: one of each store call and the popular list. The ingest
        # gate and the retrain are not warmed: their first use costs ~30 s
        # on 4 cores (as much on the sf0.001 fixture as on sf0.01), which
        # does not fit in a run; each timed round runs them once.
        with self.tracer.span("warmup", "warmup"):
            self._user("warmup", 1, timed=False)
        self.phase["session.warmup_s"] = time.perf_counter() - t0

    # -- app calls -----------------------------------------------------------
    def _latest(self, uid: str) -> dict[str, float]:
        from pyspark.sql import functions as F

        with self.tracer.span("latest_ratings", "ml.users"):
            rows = (
                self.store.latest_ratings()
                .where(F.col("user_id") == uid)
                .select("item_id", "rating")
                .collect()
            )
        return {r.item_id: float(r.rating) for r in rows}

    def _read_recs(self, username: str) -> list:
        from pyspark.sql import functions as F

        if not os.path.isdir(self.recs_path):
            return []
        with self.tracer.span("read_recs", "sources"):
            return (
                self.spark.read.parquet(self.recs_path)
                .where(F.col("user_id") == username)
                .orderBy("rank")
                .select("item_id", "rank")
                .collect()
            )

    def _call(self, kind: str, name: str, fn, timed: bool):
        if timed:
            return self.timed_op(kind, name, fn)
        return True, fn()

    def _user(self, username: str, n_ratings: int, timed: bool = True) -> None:
        from pyspark.sql import functions as F

        def create():
            with self.tracer.span("create_user", "ml.users"):
                uid = self.store.create_user(username, f"{username}@example.com")
            if uid is None:
                raise RuntimeError(f"create_user({username!r}) was refused")
            return uid

        ok, uid = self._call("write", "create_user", create, timed)
        if not ok:
            return
        self.user_ids[username] = uid
        mine = self.model.setdefault(username, {})
        for _ in range(n_ratings):
            item = self.rng.choices(self.items, weights=self.item_w)[0]
            rating = self.rng.choice(_RATING_VALUES)

            def add(item=item, rating=rating):
                with self.tracer.span("add_rating", "ml.users"):
                    self.store.add_rating(uid, item, rating)

            ok, _ = self._call("write", "add_rating", add, timed)
            if not ok:
                continue
            self.acked.append((uid, item, rating))
            mine[item] = rating

            def read(expect=dict(mine)):
                got = self._latest(uid)
                if got != expect:  # read-your-writes
                    raise AssertionError(f"latest ratings {got} != acknowledged {expect}")

            def gate(expect=len(mine)):
                with self.tracer.span("unlock_gate", "ml.users"):
                    n = self.store.latest_ratings().where(F.col("user_id") == uid).count()
                if n != expect:
                    raise AssertionError(f"unlock-gate count {n} != {expect}")

            self._call("read", "latest_ratings", read, timed)
            self._call("read", "unlock_gate", gate, timed)
        ok, pop = self._call("read", POPULAR, lambda: self.query(POPULAR, collect=True), timed)
        if ok:
            self.popular = pop

    def _retrain(self) -> None:
        from recommender_systems_pyspark_spark.ml.ratings import ratings_from_events
        from recommender_systems_pyspark_spark.ml.recommender import recommend_top_n, train
        from recommender_systems_pyspark_spark.sources.sinks import write_table

        def retrain():
            t0 = time.perf_counter()
            with self.tracer.span("derive", "ml.ratings"):
                events = ratings_from_events(self.spark, self.sf_dir).select(
                    "user_id", "item_id", "rating"
                )
                # Store ratings keyed by username: uuids are fresh each run,
                # usernames are fixed by the seed, so the model is too.
                names = {v: k for k, v in self.user_ids.items()}
                rows = sorted(
                    (names[r.user_id], r.item_id, float(r.rating))
                    for r in self.store.latest_ratings().collect()
                    if r.user_id in names
                )
                store = self.spark.createDataFrame(
                    rows, "user_id string, item_id string, rating float"
                )
                ratings = events.unionByName(store)
            t1 = time.perf_counter()
            with self.tracer.span("train", "ml.recommender"):
                res = train(ratings)
            t2 = time.perf_counter()
            with self.tracer.span("recommend_top_n", "ml.recommender"):
                recs = recommend_top_n(res.model, TOP_N, res.user_dim, res.item_dim)
            with self.tracer.span("publish", "sources.sinks"):
                write_table(recs, self.recs_path)
            t3 = time.perf_counter()
            self.trained_users = {r[0] for r in rows}
            self.retrains.append(
                {"rmse": res.rmse, "derive_s": t1 - t0, "train_s": t2 - t1,
                 "topn_s": t3 - t2, "total_s": t3 - t0}
            )

        self.timed_op("retrain", "retrain", retrain)

    def round(self, i: int) -> None:
        username = f"u{self.seed}_{i}"
        self._user(username, RATINGS_PER_USER)
        ok, gate = self.timed_op(
            "ingest", INGEST_GATE, lambda: self.query(INGEST_GATE, collect=True)
        )
        if ok:
            self.gate = gate
        self._retrain()
        ok, recs = self.timed_op("read", "read_recs", lambda: self._read_recs(username))
        if ok:
            self.recs_reads.append((username, username in self.trained_users, recs))

    # -- checks --------------------------------------------------------------
    def check(self) -> None:
        failed = 0
        # Every acknowledged rating is in the store, and nothing else.
        stored = sorted((r.user_id, r.item_id, float(r.rating)) for r in self.store.ratings().collect())
        if stored != sorted(self.acked):
            failed += 1
            self.failures.append(f"store holds {len(stored)} ratings, {len(self.acked)} acknowledged")
        # The store's latest-ratings view matches the runner's own model.
        latest: dict[str, dict[str, float]] = {}
        names = {v: k for k, v in self.user_ids.items()}
        for r in self.store.latest_ratings().collect():
            latest.setdefault(names.get(r.user_id, r.user_id), {})[r.item_id] = float(r.rating)
        for user, want in self.model.items():
            if latest.get(user, {}) != want:
                failed += 1
                self.failures.append(f"latest ratings of {user} differ from the app's model")
        # Users that were in a retrain (every unlocked one among them) read
        # exactly N recs ranked 1..N; others read none (cold start).
        for user, trained, recs in self.recs_reads:
            want = list(range(1, TOP_N + 1)) if trained else []
            if [r["rank"] for r in recs] != want:
                failed += 1
                self.failures.append(f"{user}: recs ranks {[r['rank'] for r in recs]}")
        if not self.retrains or not math.isfinite(self.retrains[-1]["rmse"]):
            failed += 1
            self.failures.append("no finite ALS RMSE")
        for name, got in ((POPULAR, self.popular), (INGEST_GATE, self.gate)):
            if got is None or not self.oracle_check(name, got):
                failed += 1
        self.check_failed = failed

    def attempted_failed(self) -> tuple[int, int]:
        attempted, failed = super().attempted_failed()
        return attempted, failed + self.check_failed

    def app_metrics(self) -> dict[str, float]:
        writes = [ms for k, _, ms, _ in self.ops if k == "write"]
        store = self.store.ratings_path
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(store) for f in fs
                 if f.endswith(".parquet")]
        n = max(1, len(self.acked))
        lo, hi = self.timed_window
        written = [
            os.path.getsize(f)
            for d in (os.path.dirname(store), self.recs_path)
            for dp, _, fs in os.walk(d)
            for f in (os.path.join(dp, x) for x in fs)
            if f.endswith(".parquet") and lo <= os.path.getmtime(f) <= hi
        ]
        return {
            "app.write_p50_ms": median(writes),
            "app.retrain_s": median(r["total_s"] for r in self.retrains),
            "ml.recommender.rmse": self.retrains[-1]["rmse"] if self.retrains else 0.0,
            "ml.recommender.train_s": median(r["train_s"] for r in self.retrains),
            "ml.recommender.topn_s": median(r["topn_s"] for r in self.retrains),
            "ml.ratings.derive_s": median(r["derive_s"] for r in self.retrains),
            "sources.sinks.bytes_per_rating": sum(os.path.getsize(f) for f in files) / n,
            "sources.store_files_scanned": float(len(files)),
            "sources.sinks.files_written": float(len(written)),
            "sources.sinks.bytes_written": float(sum(written)),
        }


WORKLOADS = {w.name: w for w in (InteractiveSql, RecsysApp)}
