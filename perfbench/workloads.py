"""The benchmark's workloads, each a closed loop with one client.

A workload runs untimed warm-up work, then timed passes until the timed
time reaches the run's `--seconds` (whole cycles of passes only).  Every op is
checked outside the timed region; an op that raises or fails its check
counts as failed.  A traced run turns tracing off and on in
off-on-on-off blocks of passes, so the run also measures the tracing
overhead.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import contextmanager

import numpy as np

import datagen

# --- fixtures-sf0.1 ---------------------------------------------------------

FIXTURE_SCALE = 0.1
# The faces of bench.BENCH_QUERIES this workload runs: a fixed subset,
# because on 4 cores one cold pass over all 102 faces takes ~330 s and
# one warm pass ~190 s, far beyond one run's budget.  The subset keeps
# faces of many families whose warm time at sf0.1 is about a second or
# less; the heavy dedup and graph faces (5-7 s each warm) and the IVF
# face (~9 s cold) do not fit.
FIXTURE_FACES = (
    "filter_project", "window_rank", "join_asof", "join_sortmerge", "tpch_q3",
    "similarity_search_topk", "chunk_split_headers", "stream_session",
    "eval_auc_rank",
)


@contextmanager
def on_collect(callback):
    """Call `callback(df, rows)` after every `DataFrame.collect` inside
    the block."""
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.collect

    def collect(self):
        rows = orig(self)
        callback(self, rows)
        return rows

    DataFrame.collect = collect
    try:
        yield
    finally:
        DataFrame.collect = orig


class Run:
    """State of one workload run: session, tracer, timings and checks."""

    def __init__(self, spark, tracer, workload: str, seed: int, seconds: float,
                 run_dir: str, data_root: str, traced: bool, phase_hook):
        self.spark = spark
        self.tracer = tracer
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.data_root = data_root
        self.traced = traced
        self.phase_hook = phase_hook  # DataFrame.collect callback for traced passes
        self.profiler = None           # UDF profiler, switched on in traced passes
        self.rng = random.Random(seed)
        self.ops: list[dict] = []      # timed ops
        self.passes: list[dict] = []   # timed passes
        self.errors: list[str] = []
        self.info: dict = {}           # workload sizes and extra numbers
        self.cycle = 1                 # passes that make one repeat of the op mix
        self.min_passes = 1            # timed passes a run makes at the least

    def job_group(self, op: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.workload}:{op}", desc)

    def loop(self, run_pass) -> None:
        """Run timed passes until `seconds` of timed time have passed,
        in whole cycles and at least `min_passes`.  A traced run starts
        with one untraced settling pass, as the first timed pass is the
        slowest, then runs whole off-on-on-off blocks, so the traced and
        untraced passes see the same warming drift."""
        block = 4 if self.traced else self.cycle
        lead = 1 if self.traced else 0
        timed = 0.0
        i = 0
        while True:
            tracing = self.traced and i >= lead and (i - lead) % 4 in (1, 2)
            self.tracer.enabled = tracing
            if tracing:
                self.tracer.install()
                if self.profiler:
                    self.profiler.on()
            t0 = time.time()
            try:
                with (on_collect(self.phase_hook) if tracing else _null()):
                    with self.tracer.span(f"pass{i}", None):
                        spent = run_pass(i, tracing)
            finally:
                if tracing:
                    self.tracer.uninstall()
                    if self.profiler:
                        self.profiler.off()
                self.tracer.enabled = False
            self.passes.append({"i": i, "traced": tracing, "settle": i < lead,
                                "wall": spent, "start": t0, "end": time.time()})
            timed += spent
            i += 1
            if timed >= self.seconds and (i - lead) % block == 0 and i - lead >= self.min_passes:
                break

    def timed_op(self, name: str, kind: str, pass_i: int, tracing: bool, fn):
        """Run fn() as one timed op; returns (result, seconds) or
        (None, seconds) after recording the failure."""
        ok = True
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, None, op=kind):
                out = fn()
        except Exception as e:  # noqa: BLE001 - a failing op is a result
            ok = False
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        dt = time.perf_counter() - t0
        self.ops.append({"op": name, "kind": kind, "s": dt, "ok": ok,
                         "pass": pass_i, "traced": tracing})
        return (out if ok else None), dt, ok

    def fail_last(self, why: str) -> None:
        self.ops[-1]["ok"] = False
        self.errors.append(f"{self.ops[-1]['op']}: {why}")


@contextmanager
def _null():
    yield


def fixture_order(seed: int, pass_i: int) -> list[str]:
    """The faces in the order pass `pass_i` of a run with `seed` runs them."""
    order = list(FIXTURE_FACES)
    random.Random(f"{seed}:{pass_i}").shuffle(order)
    return order


def run_fixtures(run: Run, expected: dict | None) -> None:
    import bench
    from vector_ai_npm_spark import registry

    queries = registry.all_queries()
    missing = [f for f in FIXTURE_FACES if f not in bench.BENCH_QUERIES or f not in queries]
    if missing:
        raise RuntimeError(f"faces not in bench.BENCH_QUERIES / registry: {missing}")
    t0 = time.perf_counter()
    data = os.path.join(run.data_root, f"sf{FIXTURE_SCALE}-seed{run.seed}")
    rows = datagen.generate(data, FIXTURE_SCALE, run.seed)
    run.info["gen_s"] = time.perf_counter() - t0
    run.info["sizes"] = rows

    # untimed warm pass: fills the JVM code caches and the faces'
    # in-process caches, and records each face's bench._force tuple
    # (row count, non-null count per column)
    tuples: dict[str, list[int]] = {}

    def capture(df, rows_):
        if len(rows_) == 1 and "n" in df.columns:
            capture.last = [int(v) for v in rows_[0]]

    cold: dict[str, float] = {}
    t_warm = time.perf_counter()
    with on_collect(capture):
        for face in fixture_order(run.seed, -1):
            capture.last = None
            run.job_group(face, "warmup")
            t0 = time.perf_counter()
            try:
                bench._force(queries[face](run.spark, data))
                tuples[face] = capture.last
            except Exception as e:  # noqa: BLE001 - recorded as a failed face
                run.errors.append(f"{face} (warm-up): {type(e).__name__}: {str(e)[:200]}")
            cold[face] = time.perf_counter() - t0
    run.info["warmup_s"] = time.perf_counter() - t_warm
    run.info["warmup_face_s"] = cold
    run.info["tuples"] = tuples
    if expected is not None:
        for face, want in expected.items():
            if tuples.get(face) != want:
                run.errors.append(f"{face}: tuple {tuples.get(face)} != recorded {want}")
                tuples[face] = None  # every timed run of the face fails
    run.info["checked_against_record"] = expected is not None

    def one_pass(i: int, tracing: bool) -> float:
        spent = 0.0
        for face in fixture_order(run.seed, i):
            capture.last = None

            def op(face=face):
                run.job_group(face, "construct")
                with run.tracer.span("registry.construct", "registry"):
                    df = queries[face](run.spark, data)
                run.job_group(face, "force")
                with run.tracer.span("force", "driver", idle_basis=True):
                    return bench._force(df)
            n, dt, ok = run.timed_op(face, face, i, tracing, op)
            spent += dt
            want = tuples.get(face)
            run.ops[-1]["rows"] = n or 0
            if ok and (want is None or capture.last != want):
                run.fail_last(f"tuple {capture.last} != warm-up tuple {want}")
        return spent

    # every timed run's full bench._force tuple is captured and checked,
    # so a wrong result on a warm repeat fails even when its row count
    # is right.  Three passes at the least, whatever `seconds` is: the
    # JIT is still compiling after the untimed pass, so the first timed
    # pass is the slower one as a rule, and the end-to-end metrics take
    # the fastest pass; with two passes that was nearly always the second
    # alone.
    run.min_passes = 3
    with on_collect(capture):
        run.loop(one_pass)
    run.spark.sparkContext.setJobGroup("perfbench:idle", "idle")


# --- rag-session --------------------------------------------------------------

TABLE = "docs"
# The op mix keeps the ratios of the session probed on 4 cores before
# the benchmark was written: 8 ingest_data batches of 200 docs, 80 asks
# and 2 delete_data calls, i.e. one ask per 20 docs ingested.  A pass is
# one ingest of 100 docs and its 5 asks in a seeded order; every second
# pass also deletes, so a run (a whole number of two-pass cycles) always
# measures a delete, and two ingests' files build up between the
# rewrites a delete does.  The batch is half the probe's and deletes
# come at twice its rate to fit the run budget: an ask takes ~1.26 s on
# the 4-core benchmark host against the probe's 0.57 s, so a cycle of
# two 200-doc ingests and 20 asks took ~33 s, and a run ~65-75 s.
INIT_DOCS = 100    # ingested untimed, before the timed passes
BATCH_DOCS = 100   # docs per timed ingest_data call
ASKS_PER_INGEST = 5
DELETE_EVERY = 2   # passes per delete_data call
DELETE_DOCS = 50   # doc ids per timed delete_data call
WARMUP_DELETE_DOCS = 20
# The first asks of a session are slower: with one warm-up ask, the
# first timed asks took 1.6-1.8 s and the later ones 1.25-1.5 s.
WARMUP_ASKS = 3
TOP_K = 5


def mdx_doc(rng: np.random.Generator, doc_id: int) -> str:
    """A seeded MDX document that opens with '## Context' (strict
    validation) and carries its id in every sentence, so any chunk can
    be traced to its document."""
    words = np.array(datagen.WORDS, dtype=object)

    def sentences(k: int) -> str:
        return " ".join(
            " ".join(words[rng.integers(0, len(words), size=rng.integers(6, 12))])
            + f" d{doc_id}."
            for _ in range(k)
        )

    parts = [f"## Context\n{sentences(2)}\n"]
    for s in range(int(rng.integers(2, 6))):
        depth = int(rng.integers(2, 4))
        title = " ".join(words[rng.integers(0, len(words), size=2)])
        # some sections run past the 1000-char chunk size and are sub-split
        parts.append(f"{'#' * depth} {title} {s}\n{sentences(int(rng.integers(2, 16)))}\n")
    return "".join(parts)


def store_signature(path: str) -> tuple:
    """(name, size, mtime) of every file under the store."""
    sig = []
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            sig.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


_STORE_CACHE: dict = {}


def read_store(path: str):
    """(doc_id, content, embedding matrix) of the store as on disk.  It
    is read again only when a file under it changed: asks write nothing,
    so the checks of the asks between two writes share one read."""
    sig = store_signature(path)
    if _STORE_CACHE.get("sig") != (path, sig):
        _STORE_CACHE["sig"] = (path, sig)
        _STORE_CACHE["store"] = _read_store(path)
    return _STORE_CACHE["store"]


def _read_store(path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "content", "embedding"])
    ids = np.asarray(t.column("doc_id").to_numpy(), dtype=np.int64)
    content = [c.strip() for c in t.column("content").to_pylist()]
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64).reshape(len(ids), -1)
    return ids, content, emb


def exact_topk_scores(query: list[float], emb: np.ndarray, k: int) -> np.ndarray:
    """Cosine scores of the exact top-k (score >= 0, the asks' threshold)."""
    q = np.asarray(query, dtype=np.float64)
    norms = np.linalg.norm(emb, axis=1) * np.linalg.norm(q)
    scores = np.where(norms > 0, emb @ q / np.where(norms > 0, norms, 1), 0.0)
    scores = scores[scores >= 0.0]
    return np.sort(scores)[::-1][:k]


def run_rag(run: Run) -> None:
    from vector_ai_npm_spark.engine import EngineConfig, VectorEngine

    store_root = os.path.join(run.run_dir, "store")
    engine = VectorEngine(run.spark, EngineConfig(store_path=store_root))
    store = os.path.join(store_root, TABLE)
    rng = np.random.default_rng(run.seed)
    live: dict[int, int] = {}   # doc_id -> mdx bytes
    deleted: set[int] = set()
    next_id = [0]

    def batch(n=BATCH_DOCS):
        docs = []
        for _ in range(n):
            docs.append((next_id[0], mdx_doc(rng, next_id[0])))
            next_id[0] += 1
        return docs

    def ingest(docs):
        with run.tracer.span("client.create_frame", "client"):
            df = run.spark.createDataFrame(docs, "doc_id long, mdx string")
        engine.ingest_data(df, db_table=TABLE)

    def question() -> str:
        doc = int(rng.choice(sorted(live)))
        picks = rng.integers(0, len(datagen.WORDS), size=4)
        return f"what does d{doc} say about " + " ".join(datagen.WORDS[p] for p in picks)

    def ask(q: str):
        emb = engine.create_embeddings(q)
        res = engine.query_embeddings(embeddings=emb, db_table=TABLE,
                                      threshold=0.0, count=TOP_K)
        engine.get_answer(q, res)
        return emb, res

    def check_ask(emb, res) -> str | None:
        ids, content, mat = read_store(store)
        gone = deleted.intersection(ids.tolist())
        if gone:
            return f"deleted docs still stored: {sorted(gone)[:5]}"
        q = np.asarray(emb, dtype=np.float64)
        by_content = {}
        for c, v in zip(content, mat):
            n = np.linalg.norm(v) * np.linalg.norm(q)
            by_content[c] = float(v @ q / n) if n > 0 else 0.0
        if any(c not in by_content for c in res["context"]):
            return "returned a chunk that is not in the store"
        got = np.array([by_content[c] for c in res["context"]])
        want = exact_topk_scores(emb, mat, TOP_K)
        if len(got) != len(want) or not np.allclose(got, want, rtol=0, atol=1e-9):
            return f"scores {got.round(6).tolist()} != exact top-k {want.round(6).tolist()}"
        return None

    # untimed warm-up: the initial store, the Python workers, a few asks
    # and one delete
    t0 = time.perf_counter()
    run.spark.sparkContext.setJobGroup(f"{run.workload}:warmup", "warmup")
    docs = batch(INIT_DOCS)
    ingest(docs)
    live.update((d, len(m.encode())) for d, m in docs)
    for _ in range(WARMUP_ASKS):
        emb, res = ask(question())
        why = check_ask(emb, res)
        if why:
            run.errors.append(f"warm-up ask: {why}")
    victims = [int(v) for v in rng.choice(sorted(live), size=WARMUP_DELETE_DOCS, replace=False)]
    engine.delete_data(victims, db_table=TABLE)
    for v in victims:
        live.pop(v)
    deleted.update(victims)
    run.info["warmup_s"] = time.perf_counter() - t0

    def store_files() -> set[str]:
        return {f for f, _, _ in store_signature(store)}

    files_written = [0]

    def one_pass(i: int, tracing: bool) -> float:
        plan = ["ingest"] + ["ask"] * ASKS_PER_INGEST
        if i % DELETE_EVERY == DELETE_EVERY - 1:
            plan.append("delete")
        run.rng.shuffle(plan)
        spent = 0.0
        for kind in plan:
            before = store_files() if tracing and kind != "ask" else None
            run.job_group(kind, kind)
            if kind == "ingest":
                docs = batch()
                _, dt, ok = run.timed_op("ingest", "ingest", i, tracing, lambda: ingest(docs))
                live.update((d, len(m.encode())) for d, m in docs)
                if ok:
                    ids = set(read_store(store)[0].tolist())
                    if not ids.issuperset(d for d, _ in docs):
                        run.fail_last("ingested docs missing from the store")
            elif kind == "ask":
                q = question()
                out, dt, ok = run.timed_op("ask", "ask", i, tracing, lambda: ask(q))
                if ok:
                    why = check_ask(*out)
                    if why:
                        run.fail_last(why)
            else:
                victims = [int(v) for v in rng.choice(sorted(live), size=DELETE_DOCS, replace=False)]
                ids = read_store(store)[0]
                expect = int(np.isin(ids, victims).sum())
                out, dt, ok = run.timed_op(
                    "delete", "delete", i, tracing,
                    lambda: engine.delete_data(victims, db_table=TABLE))
                for v in victims:
                    live.pop(v, None)
                deleted.update(victims)
                if ok:
                    after = len(read_store(store)[0])
                    if out["rows_deleted"] != expect or after != len(ids) - expect:
                        run.fail_last(f"delete removed {len(ids) - after} rows "
                                      f"(audit {out['rows_deleted']}), expected {expect}")
            if before is not None:
                files_written[0] += len(store_files() - before)
            spent += dt
        return spent

    run.cycle = DELETE_EVERY
    run.loop(one_pass)
    run.spark.sparkContext.setJobGroup("perfbench:idle", "idle")
    store_bytes = sum(os.path.getsize(p) for p in store_files())
    run.info["store_rows"] = len(read_store(store)[0])
    run.info["store_files"] = len(store_files())
    run.info["store_bytes_per_doc_byte"] = store_bytes / max(1, sum(live.values()))
    run.info["files_written"] = files_written[0]
    run.info["live_docs"] = len(live)
