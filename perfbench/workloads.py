"""The three workloads. Each is a closed loop: one client, one op in
flight, on the session's `local[nproc]` Spark.

A workload function takes a `Ctx` and returns the numbers the runner
reports. Every op goes through `ctx.op(kind)`, which times it, counts it
as attempted, and counts it as failed if it raises or if its result check
fails. Set-up steps are ops too, so a traced run sees their Spark work.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time

import numpy as np

import gen

# serve: the reference demo's configuration (n=50k, dim=128, k=16,
# nprobe=8) with fresh uniform queries
SERVE_ROWS = 50_000
SERVE_FILES = 8            # generated corpus files
SERVE_ID_FILES = 16        # id-clustered layout files written by save()
N_CLUSTERS = 16
NPROBE = 8
TOP_K = 10
BATCH = 32
BATCH_POOL = 2             # query batches; recall is taken over all of them
RECALL_FLOOR = 0.55        # IVF recall@10 below this is a failed run

# mutate
MUTATE_ROWS = 5_000
MUTATE_UPSERT = 1000
MUTATE_DELETE = 100
WARM_ROWS = 1000           # rows of the untimed warm-up IVF build

# curate
CURATE_DOCS = 5000
STAGES = ("corpus", "gated", "trained", "dd", "surv", "clean1", "clean",
          "mkept")

SETUP_REPS = {"serve": 1, "mutate": 3, "curate": 5}
MIN_OPS = {"serve": 2, "mutate": 2, "curate": 1}     # serve: cycles of the mix


class CheckFailed(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Op:
    def __init__(self, kind: str):
        self.kind = kind
        self.ok = False
        self.check = None


class Ctx:
    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 deadline: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.deadline = deadline
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.window_s = 0.0
        self.info: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def _fail(self, kind: str, e: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:400])

    @contextlib.contextmanager
    def op(self, kind: str, record: bool = True):
        """Time one op. The body may set `.check` on the yielded record to a
        function that verifies the op's result; `verify` runs it after the
        timed region. An engine error or a failed check counts the op as
        failed and the run goes on to report it."""
        self.attempted += 1
        rec = Op(kind)
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield rec
        except Exception as e:  # noqa: BLE001 -- every op failure is reported
            self._fail(kind, e)
            return
        rec.ok = True
        if record:
            self.lat.setdefault(kind, []).append(time.perf_counter() - t0)

    def span(self, name: str, **attrs):
        """A trace span in traced runs, nothing otherwise."""
        return self.tracer.span(name, **attrs) if self.tracer else _null()

    def verify(self, rec: "Op"):
        """Run the op's result check, outside its timing; returns what the
        check returns, or None if the op or its check failed."""
        if not rec.ok or rec.check is None:
            return None
        try:
            return rec.check()
        except Exception as e:  # noqa: BLE001 -- every check failure is reported
            self._fail(rec.kind, e)
            return None

    def window(self, min_ops: int):
        """Yield op indices until `seconds` have passed and at least
        `min_ops` ops ran, or the run's deadline is near."""
        t0 = time.perf_counter()
        i = 0
        while True:
            now = time.perf_counter()
            if i >= min_ops and now - t0 >= self.seconds:
                break
            if i >= 1 and now >= self.deadline:
                break
            yield i
            i += 1
        self.window_s = time.perf_counter() - t0


@contextlib.contextmanager
def _null():
    yield None


# ------------------------------------------------------------------ checks
def cosine(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    x64 = x.astype(np.float64)
    q64 = np.asarray(q, dtype=np.float64)
    return (x64 @ q64) / (np.linalg.norm(x64, axis=1) * np.linalg.norm(q64))


def check_topk(hits: list[tuple[str, float]], ids: list[str],
               sims: np.ndarray, k: int, what: str) -> None:
    """`hits` (id, reported sim) must be a valid exact top-k of `sims`
    over `ids`: right length, distinct, reported sims correct, and none
    below the k-th best (ties allowed)."""
    want = min(k, len(ids))
    check(len(hits) == want, f"{what}: {len(hits)} hits, want {want}")
    pos = {v: i for i, v in enumerate(ids)}
    check(len({h for h, _ in hits}) == len(hits), f"{what}: duplicate ids")
    kth = np.sort(sims)[-want]
    for h, s in hits:
        check(h in pos, f"{what}: unknown id {h}")
        true = sims[pos[h]]
        check(abs(true - s) <= 1e-5, f"{what}: sim {s} != {true} for {h}")
        check(true >= kth - 1e-6, f"{what}: {h} not in the top {k}")


def check_hits_consistent(hits, pos: dict, x: np.ndarray, q, what: str):
    """Approximate results: every id exists and carries its true sim."""
    check(len(hits) == TOP_K, f"{what}: {len(hits)} hits")
    for h, s in hits:
        check(h in pos, f"{what}: unknown id {h}")
        true = float(cosine(x[pos[h]][None, :], q)[0])
        check(abs(true - s) <= 1e-5, f"{what}: sim {s} != {true} for {h}")


def exact_topk_ids(x: np.ndarray, q, ids: list[str], k: int) -> set[str]:
    sims = cosine(x, q)
    return {ids[i] for i in np.argsort(-sims, kind="stable")[:k]}


def exact_topk_many(x: np.ndarray, qs: np.ndarray, ids: list[str],
                    k: int) -> list[set[str]]:
    """`exact_topk_ids` for every row of `qs`, with one matrix product."""
    x64 = x.astype(np.float64)
    q64 = qs.astype(np.float64)
    sims = (q64 @ x64.T) / np.outer(np.linalg.norm(q64, axis=1),
                                    np.linalg.norm(x64, axis=1))
    return [{ids[i] for i in np.argsort(-row, kind="stable")[:k]}
            for row in sims]


def input_stats(path: str, rows: int) -> dict:
    """What the engine is given: rows, bytes on disk, and a digest that is
    the same on every run with the same seed."""
    return {"rows": rows, "raw_bytes": gen.tree_bytes(path),
            "sha256": gen.tree_digest(path)}


def note_plan(ctx: Ctx, store) -> None:
    """Traced runs record the size of the store's logical plan, the
    lineage that copy-on-write mutations grow."""
    if ctx.tracer:
        plan = store.df._jdf.queryExecution().logical().treeString()
        ctx.info.setdefault("plan_nodes", []).append(plan.count("\n"))


# ------------------------------------------------------------------- serve
def serve(ctx: Ctx) -> dict:
    """Read-only serving over a saved-then-reloaded store."""
    from pyspark.sql import functions as F

    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.store import VectorStore

    spark, seed = ctx.spark, ctx.seed
    ids, x, cats = gen.corpus(seed, SERVE_ROWS)
    corpus_dir = ctx.path("corpus")
    gen.write_table(gen.vectors_table(ids, x, cats), corpus_dir, SERVE_FILES)
    pos = {v: i for i, v in enumerate(ids)}
    ctx.info["input"] = input_stats(corpus_dir, SERVE_ROWS)

    setups, steps = [], {}
    store = ivf = None
    for rep in range(SETUP_REPS["serve"]):
        path = ctx.path(f"store{rep}")
        t0 = time.perf_counter()
        with ctx.op("setup.ingest"):
            fresh = VectorStore(spark, gen.DIM)
            fresh.ingest(spark.read.parquet(corpus_dir))
        with ctx.op("setup.index_build"):
            fresh.build_ivf_index(n_clusters=N_CLUSTERS, seed=seed)
        with ctx.op("setup.save"):
            fresh.save(path, id_files=SERVE_ID_FILES)
        with ctx.op("setup.load"):
            store = VectorStore.load(spark, path, vector_dim=gen.DIM)
            ivf = IVFIndex.load(spark, f"{path}/ivf")
        setups.append(time.perf_counter() - t0)
    for k in ("setup.ingest", "setup.index_build", "setup.save", "setup.load"):
        steps[k] = statistics.median(ctx.lat.get(k, [float("nan")]))
    ctx.info["setup_steps_s"] = steps
    ctx.info["bytes_on_disk_per_user_byte"] = (
        gen.tree_bytes(path) / (SERVE_ROWS * gen.DIM * 4))
    if store is None or ivf is None:
        raise RuntimeError("serve set-up failed: " + "; ".join(ctx.errors))
    note_plan(ctx, store)

    batches = gen.queries(seed, BATCH * BATCH_POOL, stream=2).reshape(
        BATCH_POOL, BATCH, gen.DIM)
    singles = gen.queries(seed, 64, stream=5)
    r = gen.rng(seed, 6)
    filt_cats = r.integers(0, gen.N_CATEGORIES, 64)
    probe_ids = r.choice(SERVE_ROWS, 64, replace=False)
    exact = [exact_topk_many(x, b, ids, TOP_K) for b in batches]

    # each op calls the engine and returns the check of its result

    def batch_op(b: int):
        qdf = spark.createDataFrame(
            [(i, [float(v) for v in q]) for i, q in enumerate(batches[b])],
            "query_id int, q_embedding array<float>")
        rows = ivf.batch_search(qdf, top_k=TOP_K, nprobe=NPROBE).collect()

        def verify() -> float:
            got: dict[int, list] = {}
            for row in rows:
                got.setdefault(row["query_id"], []).append(
                    (row["vec_id"], row["sim"]))
            hit = 0
            for i, q in enumerate(batches[b]):
                check_hits_consistent(got.get(i, []), pos, x, q, "ivf_batch32")
                hit += len({h for h, _ in got[i]} & exact[b][i])
            return hit / (BATCH * TOP_K)
        return verify

    def single_op(i: int):
        q = singles[i % len(singles)]
        hits = store.ivf_search(q.tolist(), top_k=TOP_K, nprobe=NPROBE)
        return lambda: check_hits_consistent(
            [(h["vector_id"], h["similarity"]) for h in hits], pos, x, q,
            "ivf_1q")

    def filtered_op(i: int):
        q, c = singles[(i + 7) % len(singles)], int(filt_cats[i % 64])
        hits = store.filtered_search(
            q.tolist(), top_k=TOP_K,
            metadata_filter=F.element_at(F.col("metadata"), "category")
            == str(c))

        def verify() -> None:
            check(all(h["metadata"].get("category") == str(c) for h in hits),
                  "filtered_1q: hit outside the predicate")
            sub = np.flatnonzero(cats == c)
            check_topk([(h["vector_id"], h["similarity"]) for h in hits],
                       [ids[j] for j in sub], cosine(x[sub], q), TOP_K,
                       "filtered_1q")
        return verify

    def get_op(i: int):
        j = int(probe_ids[i % len(probe_ids)])
        got = store.get_by_id(ids[j])

        def verify() -> None:
            check(np.array_equal(np.asarray(got["vector"], dtype=np.float32),
                                 x[j]), "get_by_id: vector differs")
            check(got["metadata"].get("category") == str(int(cats[j])),
                  "get_by_id: metadata differs")
        return verify

    def run(kind: str, fn, i: int, record: bool = True):
        with ctx.op(kind, record) as op:
            op.check = fn(i)
        return ctx.verify(op)

    # warm pass: every op type once, and recall over the whole batch pool
    recall = [run("warm.ivf_batch32", batch_op, b, record=False)
              for b in range(BATCH_POOL)]
    for kind, fn in (("warm.ivf_1q", single_op), ("warm.filtered_1q",
                     filtered_op), ("warm.get_by_id", get_op)):
        run(kind, fn, 0, record=False)
    rec = float(np.mean(recall)) if None not in recall else 0.0
    ctx.info["recall_at_10"] = rec
    with ctx.op("check.recall", record=False) as op:
        op.check = lambda: check(rec >= RECALL_FLOOR,
                                 f"recall@10 {rec:.3f} < {RECALL_FLOOR}")
    ctx.verify(op)

    # a cycle of the mix runs the batch pool and one of each single-query
    # op. The request rate is a cycle's requests over the sum of each op's
    # median latency: one slow cycle, or one costly single query (its cost
    # depends on the sizes of the clusters it probes), cannot move it
    mix = [("ivf_batch32", lambda i, b=b: batch_op(b))
           for b in range(BATCH_POOL)]
    mix += [("ivf_1q", single_op), ("filtered_1q", filtered_op),
            ("get_by_id", get_op)]
    for i in ctx.window(MIN_OPS["serve"] * len(mix)):
        kind, fn = mix[i % len(mix)]
        run(kind, fn, i // len(mix))
    cycle_s = sum(statistics.median(ctx.lat[kind]) for kind, _ in mix)
    return {"setup": setups, "headline": "ivf_batch32",
            "throughput": len(mix) / cycle_s}


# ------------------------------------------------------------------ mutate
def mutate(ctx: Ctx) -> dict:
    """Writes beside reads: upsert, delete, read-your-writes, exact and IVF
    search per round; then checkpoint, save, reload, durability."""
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.store import VectorStore

    spark, seed = ctx.spark, ctx.seed
    ids, x, cats = gen.corpus(seed, MUTATE_ROWS)
    corpus_dir = ctx.path("corpus")
    gen.write_table(gen.vectors_table(ids, x, cats), corpus_dir, 4)
    ctx.info["input"] = input_stats(corpus_dir, MUTATE_ROWS)
    model = {v: x[i] for i, v in enumerate(ids)}

    setups = []
    store = None
    for rep in range(SETUP_REPS["mutate"]):
        path = ctx.path(f"store{rep}")
        t0 = time.perf_counter()
        with ctx.op("setup.ingest"):
            fresh = VectorStore(spark, gen.DIM)
            fresh.ingest(spark.read.parquet(corpus_dir))
        with ctx.op("setup.save"):
            fresh.save(path)
        with ctx.op("setup.load"):
            store = VectorStore.load(spark, path, vector_dim=gen.DIM)
        setups.append(time.perf_counter() - t0)
    if store is None:
        raise RuntimeError("mutate set-up failed: " + "; ".join(ctx.errors))

    qs = gen.queries(seed, 256, stream=7)
    # warm pass, untimed: the JVM's first k-means, IVF probe, exact search
    # and id lookup cost seconds more than later ones, and a run times
    # only a few rounds
    with ctx.op("warm.ivf", record=False):
        warm = IVFIndex.build(spark.read.parquet(corpus_dir).limit(WARM_ROWS),
                              n_clusters=N_CLUSTERS, seed=seed, max_iter=3)
        warm.search(qs[-1].tolist(), top_k=TOP_K, nprobe=NPROBE).collect()
    with ctx.op("warm.reads", record=False) as op:
        got = store.get_by_id(ids[0])
        hits = store.brute_force_search(qs[-2].tolist(), top_k=TOP_K)

        def verify() -> None:
            check(np.array_equal(np.asarray(got["vector"], np.float32), x[0]),
                  "get_by_id: vector differs")
            check_topk([(h["vector_id"], h["similarity"]) for h in hits], ids,
                       cosine(x, qs[-2]), TOP_K, "brute_force_1q")
        op.check = verify
    ctx.verify(op)
    recall = []
    for rnd in ctx.window(MIN_OPS["mutate"]):
        live = sorted(model)
        up_ids, up_x, up_c, dels = gen.mutate_batch(
            seed, rnd, live, MUTATE_UPSERT, MUTATE_DELETE)
        batch_dir = ctx.path(f"batch{rnd:04d}")
        gen.write_table(gen.vectors_table(up_ids, up_x, up_c), batch_dir)
        for v, row in zip(up_ids, up_x):
            model[v] = row
        for v in dels:
            del model[v]
        m_ids = list(model)
        m_x = np.stack([model[v] for v in m_ids])
        probe = up_ids[rnd % MUTATE_UPSERT]
        q_exact, q_ivf = qs[(2 * rnd) % len(qs)], qs[(2 * rnd + 1) % len(qs)]

        with ctx.op("round") as op:
            store.merge(spark.read.parquet(batch_dir))
            for v in dels:
                store.delete(v)
            got = store.get_by_id(probe)
            exact_hits = store.brute_force_search(q_exact.tolist(), top_k=TOP_K)
            ivf_hits = store.ivf_search(q_ivf.tolist(), top_k=TOP_K,
                                        nprobe=NPROBE)

            def verify() -> float:
                check(np.array_equal(np.asarray(got["vector"], np.float32),
                                     model[probe]), "read-your-writes failed")
                check_topk([(h["vector_id"], h["similarity"])
                            for h in exact_hits], m_ids, cosine(m_x, q_exact),
                           TOP_K, "brute_force_1q")
                pairs = [(h["vector_id"], h["similarity"]) for h in ivf_hits]
                check_hits_consistent(pairs, {v: i for i, v in enumerate(m_ids)},
                                      m_x, q_ivf, "ivf_1q")
                return len({h for h, _ in pairs}
                           & exact_topk_ids(m_x, q_ivf, m_ids, TOP_K)) / TOP_K
            op.check = verify
        recall.append(ctx.verify(op))
        note_plan(ctx, store)
    ctx.info["ivf_recall_at_10_per_round"] = recall

    # one checkpoint per run, after the rounds: a second checkpoint after a
    # lazy IVF rebuild makes the next save() fail (perfbench/README.md)
    with ctx.op("checkpoint"):
        store.checkpoint()

    final = ctx.path("final")
    with ctx.op("save"):
        store.save(final)
    with ctx.op("load") as op:
        back = VectorStore.load(spark, final, vector_dim=gen.DIM)
        pdf = back.df.select("vec_id", "embedding").toPandas()

        def durable() -> None:
            check(len(pdf) == len(model),
                  f"durability: {len(pdf)} rows, model has {len(model)}")
            check(len(set(pdf["vec_id"])) == len(pdf),
                  "durability: duplicate ids")
            for v, e in zip(pdf["vec_id"], pdf["embedding"]):
                check(v in model, f"durability: deleted or unknown id {v}")
                check(np.array_equal(np.asarray(e, np.float32), model[v]),
                      f"durability: vector of {v} differs")
        op.check = durable
    ctx.verify(op)
    ctx.info["bytes_on_disk_per_user_byte"] = (
        gen.tree_bytes(final) / (len(model) * gen.DIM * 4))
    rounds = ctx.lat.get("round", [])
    return {"setup": setups, "headline": "round",
            "throughput": len(rounds) * (MUTATE_UPSERT + MUTATE_DELETE)
            / max(sum(rounds), 1e-9)}


# ------------------------------------------------------------------ curate
def curate_twin(oracle: str, sf_dir: str):
    """Run the DuckDB twin once: the export result and the row count of
    every stage relation (the twin's CTEs), in one query."""
    import duckdb

    cut = oracle.rfind("\nSELECT lang,")
    if cut < 0:
        raise RuntimeError("unexpected oracle shape: no final SELECT lang")
    head, final = oracle[:cut], oracle[cut:]
    counts = " UNION ALL ".join(
        f"SELECT '{s}' AS stage, COUNT(*) AS n FROM {s}" for s in STAGES)
    sql = (f"{head},\n__result AS ({final}),\n"
           f"__tokens AS (SELECT SUM(n_removed) AS removed, "
           f"SUM(n_tokens) AS tokens FROM cleaned)\n"
           f"SELECT 'result' AS kind, * FROM __result\n"
           f"UNION ALL BY NAME SELECT 'stage' AS kind, * FROM ({counts})\n"
           f"UNION ALL BY NAME SELECT 'tokens' AS kind, * FROM __tokens")
    con = duckdb.connect()
    try:
        con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_dir}/documents.parquet')")
        out = con.sql(sql).df()
    finally:
        con.close()
    res = out[out["kind"] == "result"].drop(
        columns=["kind", "stage", "n", "removed", "tokens"])
    res = res.astype({c: "int64" for c in res.columns if c != "lang"})
    stages = {r["stage"]: int(r["n"]) for _, r in
              out[out["kind"] == "stage"].iterrows()}
    tok = out[out["kind"] == "tokens"].iloc[0]
    return res, stages, (int(tok["removed"]), int(tok["tokens"]))


def stage_guards(stages: dict, tokens: tuple[int, int]) -> list[str]:
    """Every filtering stage must drop more than 0 and fewer than all of
    its input rows, and the span cut must remove some but not all tokens."""
    bad = []
    removed, total = tokens
    if not 0 < removed < total:
        bad.append(f"span cut removed {removed} of {total} tokens")
    for a, b in zip(STAGES, STAGES[1:]):
        if not 0 < stages[b] < stages[a]:
            bad.append(f"stage {b}: {stages[a]} -> {stages[b]} rows")
    return bad


def curate(ctx: Ctx) -> dict:
    """The product query over a seeded documents table."""
    import __spark_entry__ as entry
    from check_correctness import value_key
    from vervectordb_spark.functions.checkpoint import release_checkpoint
    from vervectordb_spark.queries_pretrain import pretraining_export_e2e

    setups = []
    sf_dir = None
    for rep in range(SETUP_REPS["curate"]):
        t0 = time.perf_counter()
        sf_dir = ctx.path(f"sf{rep}")
        planted = gen.write_documents(ctx.seed, CURATE_DOCS, sf_dir)
        setups.append(time.perf_counter() - t0)
    ctx.info["input"] = dict(input_stats(sf_dir, CURATE_DOCS), planted=planted)

    # the twin runs outside the timed region
    twin, stages, tokens = curate_twin(
        entry.oracle_sql()["pretraining_export_e2e"], sf_dir)
    want = value_key(twin)
    ctx.info["oracle_sha256"] = hashlib.sha256(
        "\n".join(want[0] + want[1]).encode()).hexdigest()
    ctx.info["stage_rows"] = stages
    ctx.info["span_tokens_removed"] = tokens
    with ctx.op("check.stages", record=False) as op:
        bad = stage_guards(stages, tokens)
        op.check = lambda: check(not bad, "degenerate input: " + "; ".join(bad))
    ctx.verify(op)

    for _ in ctx.window(MIN_OPS["curate"]):
        with ctx.op("export") as op:
            with ctx.span("export.build", lazy=True):
                df = pretraining_export_e2e(ctx.spark, sf_dir)
            try:
                with ctx.span("export.action"):
                    pdf = df.toPandas()
            finally:
                release_checkpoint(df)
            op.check = lambda: check(value_key(pdf) == want,
                                     "export differs from the twin")
        ctx.verify(op)
    return {"setup": setups, "headline": "export",
            "throughput": CURATE_DOCS * len(ctx.lat.get("export", []))
            / max(sum(ctx.lat.get("export", [])), 1e-9)}


WORKLOADS = {"serve": serve, "mutate": mutate, "curate": curate}
