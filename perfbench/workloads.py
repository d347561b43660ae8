"""The benchmark's workloads. Each drives the program only through its
public API — ``CommandDispatcher``, ``SearchEngine``, ``DocumentStore``,
``IVFIndex`` and the ``operators.*`` entry points — on inputs made by
``gen.py`` from the run's seed, and checks every answer it gets back.

A workload has a ``setup`` (timed into ``setup_s``: input generation,
FT.CREATE, index and artifact builds, warm-up) and an ``op`` that
performs one operation of its closed loop and returns a record with the
operation's latency, whether its answer checked out, the figures the
per-layer summary needs, and under ``side`` the arguments of the
standalone parser/planner calls a traced run makes after it.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

from . import gen
from .stats import latency_figures, percentile
from .trace import SparkHarvest, plan_figures


def require(ok: bool, what) -> None:
    """Fail the run when a set-up or warm-up answer is wrong."""
    if not ok:
        if isinstance(what, dict):
            what = " ".join(map(str, what["argv"][:3]))
        raise AssertionError(f"wrong answer during set-up: {what}")


@dataclass
class Phase:
    """One closed loop of a run: ``clients`` threads, each sending
    operations for the run's seconds, or ``ops`` operations when set."""

    name: str
    clients: int
    ops: int | None = None


class Workload:
    name: str
    primary: str         # the phase latency_p50_ms and throughput_per_s
                         # summarize
    phases: list[Phase]
    # plan figure -> directory fragment naming the artifact a scan reads
    MARKS = {"hnsw_rows": "hnsw_graph", "ivf_rows": "ivf_"}

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.setup_parts: dict[str, float] = {}
        self.input_bytes = 0
        self.index_paths: list[str] = []

    # -- helpers -------------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.ctx.run_dir, name)

    def timed(self, part: str, fn):
        t = time.perf_counter()
        out = fn()
        self.setup_parts[part] = self.setup_parts.get(part, 0.0) + (
            time.perf_counter() - t)
        return out

    def capture(self, df):
        """Record a DataFrame the program handed back, so a traced
        request can read its Catalyst phases and plan metrics."""
        dfs = getattr(self.ctx.local, "dfs", None)
        if dfs is not None and hasattr(df, "_jdf"):
            dfs.append((self.tracer.current(), df))
        return df

    def wrap_engine(self, eng) -> None:
        tr = self.tracer
        tr.wrap(eng, "ft_search_reply", "reply")
        tr.wrap(eng, "ft_search", "search.build", on_result=self.capture)

        def agg_result(df):
            self.capture(df)
            tr.wrap(df, "collect", "reply")
            return df

        tr.wrap(eng, "ft_aggregate", "aggregate.build", on_result=agg_result)

    def command(self, eng, argv):
        """Send one command as a RESP reply through this thread's own
        ``CommandDispatcher`` — one per client connection: a dispatcher
        is not safe to share between threads, since ``execute_reply``
        flips one instance flag that a concurrent call can reset."""
        from valkey_search_spark import CommandDispatcher

        disps = getattr(self.ctx.local, "disps", None)
        if disps is None:
            disps = self.ctx.local.disps = {}
        disp = disps.get(id(eng))
        if disp is None:
            disp = disps[id(eng)] = CommandDispatcher(eng, source=None)
        with self.tracer.span("commands"):
            return disp.execute_reply(*argv)

    def figures(self, records, walls) -> tuple[float, list[tuple]]:
        """(throughput_per_s, the workload's named figures as (metric,
        value, unit, samples)) from the untraced records and each
        phase's wall time."""
        raise NotImplementedError

    def standalone_parse(self, eng, index, query, params=None,
                         probe=False) -> None:
        """Time the parser and the predicate translator (and, for a
        hybrid query with no dial, the planner's probe) by calling them
        again outside the request, each as its own span."""
        from valkey_search_spark.parser.filter_parser import parse_query
        from valkey_search_spark.plans.predicate_translator import (
            PredicateTranslator,
        )

        tr = self.tracer
        with tr.span("parser.parse"):
            parsed = parse_query(query, params)
        schema = eng.catalog.get(index)
        with tr.span("plans.translate"):
            t = PredicateTranslator(schema, limits=eng.limits)
            pred = t.translate(t.preprocess(parsed.predicate))
        if probe:
            from valkey_search_spark.plans.planner import (
                estimate_match_fraction,
            )

            with tr.span("plans.probe"):
                estimate_match_fraction(schema.indexed_df(), pred)

    def du(self, path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    def space_ratio(self) -> float:
        """Bytes held for indexes (cached blocks, artifact and store
        directories) per generated input byte."""
        held = self.ctx.storage_bytes() + sum(self.du(p)
                                              for p in self.index_paths)
        return held / max(self.input_bytes, 1)

    def plan_figs(self) -> dict[str, dict]:
        """Per enclosing span name (and "*" for the whole request):
        summed python time, Catalyst time and artifact scan rows, and the
        largest join output, over the DataFrames captured in the current
        traced request."""
        out: dict[str, dict] = {}
        for where, df in getattr(self.ctx.local, "dfs", []):
            f = plan_figures(SparkHarvest.plan_nodes(df), self.MARKS)
            f["catalyst_ms"] = SparkHarvest.catalyst_ms(df)
            for key in ("*", where or "?"):
                tot = out.setdefault(key, {})
                for k, v in f.items():
                    tot[k] = (max(tot.get(k, 0.0), v)
                              if k == "join_rows_max"
                              else tot.get(k, 0.0) + v)
        return out


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

class Serve(Workload):
    """Serving from cached indexes, in two closed-loop phases. The point
    phase runs ``min(2, nproc)`` clients sending a seeded mix of point
    FT.SEARCH replies (tag, numeric range, term, prefix, phrase,
    negation, SORTBY+LIMIT) and FT.AGGREGATE replies. The vector phase
    runs one client sending KNN FT.SEARCH replies — pure KNN, and hybrid
    tag+KNN with no dial so the planner's probe runs — to a vector field
    backed by an HNSW artifact."""

    name = "serve"
    primary = "point"
    SIZES = {"part_rows": 20_000, "documents": 5_000, "events": 20_000,
             "point_queries": 16, "vectors": 1_000, "dim": gen.DIM,
             "clusters": 16, "segments": 4, "hnsw_m": 8,
             "hnsw_ef_construction": 40, "knn_queries": 8}
    # a KNN reply below this recall@10 is wrong; every reply measured so
    # far has recall 1.0
    MIN_RECALL = 0.9
    # untimed point requests before measuring: the per-request driver
    # cost keeps falling (JIT) for a few hundred requests after the caches
    # are built, and a count, unlike a time, warms as far on a slow host
    WARM_REQUESTS = 128

    def __init__(self, ctx):
        super().__init__(ctx)
        # two clients reach the driver's request throughput; more queue
        # behind it, doubling latency for a few percent of throughput
        self.phases = [Phase("point", min(2, ctx.cpus)),
                       Phase("vector", 1, ops=2)]

    def setup(self) -> None:
        from valkey_search_spark import (
            NumericField, SearchEngine, TagField, TextField, VectorField,
        )

        rng = gen.rng_for(self.ctx.seed, "serve")
        s = self.SIZES
        centers, label, vecs = gen.clustered_vectors(
            rng, s["vectors"], s["clusters"])
        self.vecs, self.label = vecs, label
        tables = {
            "part": gen.part_table(rng, s["part_rows"]),
            "documents": gen.documents_table(rng, s["documents"]),
            "events": gen.events_table(rng, s["events"]),
            "vectors": gen.vector_table(
                np.arange(s["vectors"]), label, vecs,
                np.round(rng.uniform(0, 1000, s["vectors"]), 2)),
        }
        self.points = gen.point_queries(rng, s["point_queries"] // 8)
        self.knns = gen.vector_queries(rng, label, vecs, s["knn_queries"])
        for q in self.knns:
            q["expect"] = self.exact(q)
        self.paths = {}
        for t, tab in tables.items():
            p = self.path(t)
            self.input_bytes += self.timed(
                "generate", lambda: gen.write_table(tab, p))
            self.paths[t] = p

        rd = self.spark.read.parquet
        eng = self.eng = SearchEngine(self.spark)
        eng.ft_create("parts", rd(self.paths["part"]), [
            TagField("p_brand"), TagField("p_type"),
            NumericField("p_size"), NumericField("p_retailprice")],
            key_column="p_partkey", cache=True)
        eng.ft_create("docs", rd(self.paths["documents"]), [
            TextField("text"), TagField("lang"), TagField("source"),
            NumericField("n_chars")], key_column="doc_id", cache=True)
        eng.ft_create("events", rd(self.paths["events"]), [
            TagField("event_type"), NumericField("value"),
            NumericField("user_id")], key_column="event_id", cache=True)
        eng.ft_create("vecs", rd(self.paths["vectors"]), [
            TagField("label"), NumericField("price"),
            VectorField("embedding", alias="emb", dim=s["dim"],
                        algo="hnsw", m=s["hnsw_m"],
                        ef_construction=s["hnsw_ef_construction"])],
            key_column="vec_id", cache=True)
        hp = self.path("hnsw_graph")
        self.index_paths = [hp]

        t0 = time.perf_counter()
        cached: list[float] = []
        kinds = {q["kind"]: q for q in self.knns}

        def build_cache(idx):
            eng.ft_search(idx, "*", count_only=True)
            cached.append(time.perf_counter() - t0)

        def build_vectors():
            build_cache("vecs")
            hnsw = self.timed("hnsw_build", lambda: eng.ft_build_ann(
                "vecs", "emb", hp, algorithm="hnsw",
                max_segment_rows=s["vectors"] // s["segments"]))
            # the artifact's frame is a subtree of the one ft_search
            # returns, whose plan is read instead
            self.tracer.wrap(hnsw, "search", "hnsw.search")
            # warm the graph reads and Arrow workers with the KNN kind
            # that reaches the most code (probe, inline-filtered beam)
            q = kinds["hybrid_nodial"]
            self.timed("knn_warmup", lambda: require(self.send(q)[0], q))
            return hnsw

        # the index caches and the graph build run side by side, as a
        # server building its indexes would; once the point indexes are
        # cached, their check and warm-up run while the graph builds.
        # The time until the last cache is built and the graph build are
        # also reported on their own (catalog.build_s, hnsw.build_s)
        self.wrap_engine(eng)
        with ThreadPoolExecutor(4) as pool:
            futs = [pool.submit(build_cache, idx)
                    for idx in ("parts", "docs", "events")]
            graph = pool.submit(build_vectors)
            for f in futs:
                f.result()
            self.timed("verify", self.verify)
            self.timed("warmup", self.warm_points)
            self.hnsw = self.timed("graph_wait", graph.result)
        self.setup_parts["catalog_build"] = max(cached)

    def warm_points(self) -> None:
        n = self.phases[0].clients

        def loop(c):
            seq = self.client_sequence("warm", c)
            for _ in range(self.WARM_REQUESTS // n):
                q = next(seq)
                require(self.send(q)[0], q)

        with ThreadPoolExecutor(n) as pool:
            list(pool.map(loop, range(n)))

    # -- point queries -------------------------------------------------------
    def verify(self) -> None:
        """Answer every distinct point query with DuckDB over the same
        parquet and keep that answer; the engine's reply must match it
        now and on every timed request."""
        import duckdb

        con = duckdb.connect()
        for t, p in self.paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
        for q in self.points:
            if q["kind"] == "aggregate":
                q["expect"] = [(r[0], int(r[1]), float(r[2]))
                               for r in con.execute(q["sql"]).fetchall()]
            else:
                q["expect_total"] = con.execute(q["count_sql"]).fetchone()[0]
                q["expect"] = [r[0] for r in con.execute(q["sql"]).fetchall()]
        con.close()
        # the engine answers them as the clients will: concurrently
        with ThreadPoolExecutor(self.phases[0].clients) as pool:
            list(pool.map(lambda q: require(self.send(q)[0], q),
                          self.points))

    @staticmethod
    def check_point(q, reply) -> bool:
        if q["kind"] == "aggregate":
            got = []
            for row in reply[1:]:
                d = dict(zip(row[::2], row[1::2]))
                got.append((d["event_type"], int(d["n"]), float(d["s"])))
            exp = q["expect"]
            return len(got) == len(exp) and all(
                g[0] == e[0] and g[1] == e[1]
                and abs(g[2] - e[2]) <= 1e-6 * max(1.0, abs(e[2]))
                for g, e in zip(got, exp))
        return (reply[0] == q["expect_total"]
                and [str(k) for k in reply[1:]] == q["expect"])

    # -- KNN queries ---------------------------------------------------------
    def exact(self, q) -> list[str]:
        """Exact top-10 by numpy, filtered like the query."""
        d = ((self.vecs - q["vec"]) ** 2).sum(axis=1)
        ids = np.arange(len(d))
        if q["kind"] == "hybrid_nodial":
            ids = ids[self.label == q["label"]]
        return [str(i) for i in ids[np.lexsort((ids, d[ids]))][:10]]

    def check_knn(self, q, reply) -> tuple[bool, float]:
        keys = [str(k) for k in reply[1:]]
        exp = q["expect"]
        recall = len(set(keys) & set(exp)) / max(len(exp), 1)
        allowed = (set(map(str, np.flatnonzero(self.label == q["label"])))
                   if q["kind"] == "hybrid_nodial" else None)
        ok = (len(keys) == len(set(keys)) and len(keys) <= 10
              and recall >= self.MIN_RECALL
              and (allowed is None or set(keys) <= allowed))
        return ok, recall

    # -- the loop ------------------------------------------------------------
    def send(self, q) -> tuple[bool, list, float | None]:
        """One request; returns (answer ok, reply, recall@10 or None)."""
        reply = self.command(self.eng, q["argv"])
        if "vec" in q:
            ok, recall = self.check_knn(q, reply)
            return ok, reply, recall
        return self.check_point(q, reply), reply, None

    def figures(self, records, walls):
        point = [r for r in records if r["phase"] == "point"]
        named = latency_figures("point_reply",
                                [r["lat"] * 1e3 for r in point])
        for kind in ("search", "aggregate", "knn"):
            named += latency_figures(kind, [r["lat"] * 1e3 for r in records
                                            if r["kind"] == kind])
        tput = len(point) / walls["point"]
        named.append(("requests_per_s", tput, "1/s", len(point)))
        knn = [r for r in records if "recall" in r]
        if knn:
            named.append(("recall_at_10",
                          sum(r["recall"] for r in knn) / len(knn), "ratio",
                          len(knn)))
        for sub in ("knn_hnsw", "hybrid_nodial"):
            xs = [r["lat"] * 1e3 for r in records if r["sub"] == sub]
            if xs:
                named.append((f"{sub}_p50_ms", percentile(xs, 50), "ms",
                              len(xs)))
        return tput, named

    def client_sequence(self, phase: str, client: int):
        """Each client cycles through its phase's query kinds in a seeded
        order, drawing a seeded instance of each kind: every run sends
        the same mix of kinds, and only the instances vary with the
        seed."""
        rng = gen.rng_for(self.ctx.seed, f"serve/{phase}/client{client}")
        by_kind: dict[str, list] = {}
        for q in self.knns if phase == "vector" else self.points:
            by_kind.setdefault(q["kind"], []).append(q)
        kinds = sorted(by_kind)
        while True:
            for k in rng.permutation(kinds):
                pool = by_kind[k]
                yield pool[int(rng.integers(0, len(pool)))]

    def op(self, client: int, seq) -> dict:
        q = next(seq)
        t = time.perf_counter()
        with self.tracer.span("request"):
            ok, reply, recall = self.send(q)
        lat = time.perf_counter() - t
        kind = {"aggregate": "aggregate", "knn_hnsw": "knn",
                "hybrid_nodial": "knn"}.get(q["kind"], "search")
        rec = {"kind": kind, "sub": q["kind"], "lat": lat, "ok": ok,
               "rows": len(reply) - 1}
        if recall is not None:
            rec["recall"] = recall
        rec["side"] = {
            "eng": self.eng, "index": q["argv"][1], "query": q["argv"][2],
            "params": {"v": q["vec"].tobytes()} if "vec" in q else None,
            "probe": q["kind"] == "hybrid_nodial"}
        return rec


# ---------------------------------------------------------------------------
# the write path: a live keyspace published through DocumentStore
# ---------------------------------------------------------------------------

class Keyspace:
    """A ``DocumentStore`` of vector-carrying documents, its mirrored IVF
    artifact, a cached index bound to ``store.read()`` and the
    benchmark's own model of the keyspace (key -> label, price, vector).
    ``publish`` applies one seeded SET/DEL batch through
    ``apply_mutations(..., ann_indexes=[ivf])`` and reads it back:
    re-bind the index, send FT.SEARCH, search the artifact — each answer
    checked against the model."""

    SIZES = {"docs": 800, "dim": gen.DIM, "clusters": 8, "batch": 40,
             "buckets": 16, "ivf_lists": 8, "ivf_kmeans_iters": 5}

    def __init__(self, wl):
        from valkey_search_spark import NumericField, SearchEngine, TagField
        from valkey_search_spark.operators.ann import IVFIndex
        from valkey_search_spark.streaming.ingest import DocumentStore

        self.wl, self.tracer, self.spark = wl, wl.tracer, wl.spark
        s = self.SIZES
        self.rng = gen.rng_for(wl.ctx.seed, "keyspace")
        centers, label, vecs, price = gen.ingest_base(
            self.rng, s["docs"], s["clusters"])
        self.centers = centers
        self.live = {i: (int(label[i]), float(price[i]), vecs[i])
                     for i in range(s["docs"])}
        self.next_key = s["docs"]
        tab = gen.vector_table(np.arange(s["docs"]), label, vecs, price)
        p = wl.path("keyspace")
        wl.input_bytes += wl.timed("generate",
                                   lambda: gen.write_table(tab, p))
        sp, ip = wl.path("store"), wl.path("ivf_live")
        self.store_path = sp
        wl.index_paths += [sp, ip]

        def build_store():
            store = DocumentStore(self.spark, sp, key_column="vec_id",
                                  num_buckets=s["buckets"])
            store.backfill(self.spark.read.parquet(p))
            return store

        # the store and the IVF artifact are built side by side from the
        # same generated rows (the keys are distinct, so the backfill
        # keeps every row)
        with ThreadPoolExecutor(2) as pool:
            store = pool.submit(wl.timed, "store_backfill", build_store)
            self.ivf = wl.timed("ann_build", lambda: IVFIndex.build(
                self.spark.read.parquet(p), ip, vec_col="embedding",
                metric="l2", n_lists=s["ivf_lists"],
                max_iter=s["ivf_kmeans_iters"], seed=wl.ctx.seed,
                key_col="vec_id"))
            self.store = store.result()
        self.tracer.wrap(self.ivf, "delete", "ann.mirror")
        self.tracer.wrap(self.ivf, "upsert", "ann.mirror")
        self.tracer.wrap(self.ivf, "search", "ann.search",
                         on_result=wl.capture)
        self.fields = lambda: [TagField("label"), NumericField("price")]
        self.eng = SearchEngine(self.spark)
        wl.wrap_engine(self.eng)
        wl.timed("catalog_build", self.rebind)
        self.batch_no = 0

    def rebind(self) -> None:
        if "live" in self.eng.ft_list():
            self.eng.ft_dropindex("live")
        self.eng.ft_create("live", self.store.read(), self.fields(),
                           key_column="vec_id", cache=True)
        # build the cache; called unwrapped so it is not a search span
        type(self.eng).ft_search(self.eng, "live", "*", count_only=True)

    def write_batch(self) -> tuple[str, int, int]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows, self.next_key = gen.mutation_batch(
            self.rng, self.live, self.next_key, self.SIZES["batch"],
            self.centers)
        tab = pa.table({
            "vec_id": pa.array([r["vec_id"] for r in rows], pa.int64()),
            "__op": [r["__op"] for r in rows],
            "label": pa.array([r.get("label") for r in rows], pa.int32()),
            "price": pa.array([r.get("price") for r in rows], pa.float64()),
            "embedding": pa.array([r.get("embedding") for r in rows],
                                  type=pa.list_(pa.float32())),
        })
        self.batch_no += 1
        path = self.wl.path(f"mutations/batch-{self.batch_no:05d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(tab, path)
        for r in rows:
            if r["__op"] == "DEL":
                self.live.pop(r["vec_id"], None)
            else:
                self.live[r["vec_id"]] = (r["label"], r["price"],
                                          r["embedding"])
        return path, len(rows), os.path.getsize(path)

    def bucket_files(self) -> dict:
        out = {}
        for b in os.listdir(self.store_path):
            d = os.path.join(self.store_path, b)
            if os.path.isdir(d):
                out[b] = {(f, os.path.getsize(os.path.join(d, f)))
                          for f in os.listdir(d)}
        return out

    def publish(self) -> dict:
        tr = self.tracer
        traced = tr.on()
        path, n_rows, m_bytes = self.write_batch()
        before = self.bucket_files() if traced else None
        muts = self.spark.read.parquet(path)
        t0 = time.perf_counter()
        with tr.span("ingest.apply"):
            self.store.apply_mutations(muts, ann_indexes=[self.ivf])
        rec = {"mutations": n_rows, "write_s": time.perf_counter() - t0}
        if traced:
            after = self.bucket_files()
            changed = [b for b in after if after[b] != before.get(b)]
            new_bytes = sum(sz for b in changed
                            for (_, sz) in after[b] - before.get(b, set()))
            rec["buckets_rewritten"] = len(changed)
            rec["write_amp"] = new_bytes / max(m_bytes, 1)
        # read-after-write: re-bind, then FT.SEARCH
        c = int(self.rng.integers(0, self.SIZES["clusters"]))
        lo = float(self.rng.integers(0, 800))
        argv = ["FT.SEARCH", "live", f"@label:{{{c}}} @price:[{lo} "
                f"{lo + 200}]", "NOCONTENT", "LIMIT", "0", "10"]
        t1 = time.perf_counter()
        with tr.span("catalog.rebind"):
            self.rebind()
        reply = self.wl.command(self.eng, argv)
        rec["raw_s"] = time.perf_counter() - t1
        match = sorted(str(k) for k, (lb, pr, _) in self.live.items()
                       if lb == c and lo <= pr <= lo + 200)
        ok = reply[0] == len(match) and \
            [str(k) for k in reply[1:]] == match[:10]
        # the mirrored artifact: a full-probe search is exact, so it must
        # return the model's true top-10
        q = (self.centers[c] + 0.3 * self.rng.normal(
            size=self.centers.shape[1])).astype(np.float32)
        hits = [r["vec_id"] for r in self.ivf.search(
            q.tolist(), k=10, nprobe=self.ivf.n_lists,
            tiebreak_col="vec_id").collect()]
        keys = np.array(sorted(self.live))
        mat = np.stack([self.live[k][2] for k in keys])
        d = ((mat - q) ** 2).sum(axis=1)
        exp = [int(k) for k in keys[np.lexsort((keys, d))][:10]]
        rec["publish_ok"] = bool(ok and hits == exp)
        rec["query"] = argv[2]
        return rec


# ---------------------------------------------------------------------------
# curate_ingest
# ---------------------------------------------------------------------------

class CurateIngest(Workload):
    """Passes of batch work over a token-disjoint replica corpus with
    injected near-duplicates — curate_documents, then ngram_jaccard_pairs,
    then bm25_rank — each followed by publishing a seeded SET/DEL batch
    to the serving keyspace and reading it back (``Keyspace``)."""

    name = "curate_ingest"
    primary = "pass"
    SIZES = {"base_docs": 200, "replicas": 4, "injected_dups": 16,
             "jaccard_threshold": 0.5, "shingle_n": 3, "sample_pairs": 30,
             **{f"keyspace_{k}": v for k, v in Keyspace.SIZES.items()}}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.phases = [Phase("pass", 1, ops=1)]

    def setup(self) -> None:
        s = self.SIZES
        rng = gen.rng_for(self.ctx.seed, "curate_ingest")
        self.corpus = self.timed("generate", lambda: gen.curate_corpus(
            rng, s["base_docs"], s["replicas"], s["injected_dups"]))
        p = self.path("documents")
        self.input_bytes = self.timed(
            "generate", lambda: gen.write_table(self.corpus.table, p))
        self.n_docs = self.corpus.table.num_rows
        self.df = self.spark.read.parquet(p)
        self.toks = {k: t.split() for k, t in self.corpus.texts.items()}
        self.grams = {k: self.shingles(t) for k, t in self.toks.items()}
        self.terms_rng = gen.rng_for(self.ctx.seed, "curate_ingest/terms")
        self.check_rng = gen.rng_for(self.ctx.seed, "curate_ingest/check")
        # the keyspace builds and takes one untimed publish (warming the
        # write path) beside one untimed curation pass, which compiles
        # the plans and starts the Python workers later passes reuse
        def keyspace():
            ks = Keyspace(self)
            require(ks.publish()["publish_ok"], "warm-up publish")
            return ks

        with ThreadPoolExecutor(2) as pool:
            ks = pool.submit(keyspace)
            warm = pool.submit(self.one_pass)
            self.timed("build_and_warm", lambda: (
                ks.result(), require(warm.result()["ok"], "warm-up pass")))
        self.keyspace = ks.result()

    def shingles(self, toks) -> set:
        n = self.SIZES["shingle_n"]
        return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def jaccard(self, a, b) -> float:
        ga, gb = self.grams[a], self.grams[b]
        return len(ga & gb) / len(ga | gb) if ga or gb else 0.0

    def one_pass(self) -> dict:
        from valkey_search_spark.operators.dedup import (
            ngram_jaccard_pairs, release,
        )
        from valkey_search_spark.operators.pipeline import (
            CurationConfig, curate_documents,
        )
        from valkey_search_spark.operators.ranking import bm25_rank

        tr = self.tracer
        s = self.SIZES
        ok = True
        with tr.span("pipeline.curate"):
            clean, _ = curate_documents(
                self.df, with_funnel=False,
                config=CurationConfig(min_quality=0.0, min_tokens=10,
                                      near_dup_threshold=0.8))
            self.capture(clean)
            kept = [r["doc_id"] for r in clean.select("doc_id").collect()]
            release(clean)
        ok &= (len(kept) == len(set(kept))
               and set(kept) <= set(self.corpus.texts))
        with tr.span("dedup.jaccard"):
            pairs_df = ngram_jaccard_pairs(
                self.df, "doc_id", shingle_n=s["shingle_n"],
                threshold=s["jaccard_threshold"])
            self.capture(pairs_df)
            pairs = {(r["a"], r["b"]): r["jaccard"]
                     for r in pairs_df.collect()}
            release(pairs_df)
        ok &= self.check_pairs(pairs)
        terms = [gen.VOCAB[i] for i in
                 self.terms_rng.choice(len(gen.VOCAB), 3, replace=False)]
        with tr.span("ranking.bm25"):
            with tr.span("ranking.bm25.build"):
                ranked = bm25_rank(self.df, terms, top_k=10)
            self.capture(ranked)
            top = [(r["doc_id"], r["bm25_score"]) for r in ranked.collect()]
        ok &= self.check_bm25(terms, top)
        return {"ok": bool(ok), "pairs": len(pairs), "kept": len(kept)}

    def check_pairs(self, pairs: dict) -> bool:
        """Every injected near-duplicate at or above the threshold must be
        reported with its brute-force Jaccard, and so must a seeded
        sample of the reported pairs."""
        t = self.SIZES["jaccard_threshold"]
        for a, b in self.corpus.injected:
            key = (min(a, b), max(a, b))
            j = self.jaccard(a, b)
            if j >= t and abs(pairs.get(key, -1.0) - round(j, 6)) > 1e-6:
                return False
        got = sorted(pairs)
        n = min(self.SIZES["sample_pairs"], len(got))
        for i in self.check_rng.choice(len(got), n, replace=False):
            a, b = got[i]
            if abs(pairs[(a, b)] - round(self.jaccard(a, b), 6)) > 1e-6:
                return False
        return True

    def check_bm25(self, terms, top, k1=1.2, b=0.75) -> bool:
        """Brute-force BM25 (the Robertson/Sparck-Jones idf with +1, as
        the operator documents) over the same tokens."""
        import math

        docs = self.toks
        n = len(docs)
        avgdl = sum(len(t) for t in docs.values()) / n
        idf = {}
        for term in terms:
            df = sum(1 for t in docs.values() if term in t)
            idf[term] = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        scores = {}
        for k, t in docs.items():
            sc = 0.0
            for term in terms:
                tf = t.count(term)
                if tf:
                    sc += idf[term] * tf * (k1 + 1) / (
                        tf + k1 * (1 - b + b * len(t) / avgdl))
            if sc > 0:
                scores[k] = sc
        exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return len(exp) == len(top) and all(
            ek == gk and abs(es - gs) <= 1e-9 * max(1.0, es)
            for (ek, es), (gk, gs) in zip(exp, top))

    def figures(self, records, walls):
        tput = (sum(r["docs"] for r in records)
                / sum(r["curate_s"] for r in records))
        n = len(records)
        return tput, [
            *latency_figures("pass", [r["lat"] * 1e3 for r in records]),
            ("pipeline_docs_per_s", tput, "docs/s", n),
            ("write_rows_per_s", sum(r["mutations"] for r in records)
             / sum(r["write_s"] for r in records), "rows/s", n),
            *latency_figures("read_after_write",
                             [r["raw_s"] * 1e3 for r in records])]

    def client_sequence(self, phase, client):
        while True:
            yield None

    def op(self, client, seq) -> dict:
        t = time.perf_counter()
        with self.tracer.span("request"):
            out = self.one_pass()
            t_curate = time.perf_counter() - t
            pub = self.keyspace.publish()
        lat = time.perf_counter() - t
        query, pub_ok = pub.pop("query"), pub.pop("publish_ok")
        return {"kind": "pass", "lat": lat, "curate_s": t_curate,
                "ok": out["ok"] and pub_ok, "docs": self.n_docs,
                "pairs": out["pairs"], **pub,
                "side": {"eng": self.keyspace.eng, "index": "live",
                         "query": query}}


WORKLOADS = {w.name: w for w in (Serve, CurateIngest)}
